"""Embedding similarity search over an ``array<float>`` column.

Two paths, mirroring how ANN is actually deployed:
- **Brute-force cosine top-k** — the exactness baseline. Query set joins
  (broadcast) against the corpus; dot products run as JVM ``zip_with`` +
  ``aggregate`` in doubles, top-k via per-query window. Linear in corpus
  size — correct choice when the query set is small or as the re-rank
  stage.
- **Random-hyperplane LSH ANN** — the scale path. Each vector hashes to a
  signature of sign-bits against seeded hyperplanes; probing compares only
  vectors sharing a bucket (shuffle ∝ bucket collisions, not corpus²).
  An IVF variant would swap hyperplanes for k-means centroids; bucketing
  logic is identical.
"""

from __future__ import annotations

import math
import random

import pandas as pd  # module-level: pandas_udf type hints resolve from here

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ecommerce_etl_pipeline_spark.operators.parallelism import ensure_parallelism


def dot(a: Column, b: Column) -> Column:
    """Double-precision dot product of two float arrays (JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k per query vector.

    ``queries`` (small) broadcasts; the corpus is scanned once per batch of
    queries — the optimal exact plan when |queries| ≪ |corpus|. The cosine
    is the JVM fold (:func:`cosine`): sequential left-to-right summation in
    doubles, bit-identical to DuckDB's ``list_sum`` (the sim_cosine_topk
    oracle). A NULL or width-mismatched pair scores NULL and ranks last;
    ties break by neighbor_id.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    c = ensure_parallelism(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vec"))
    )
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine(F.col("query_vec"), F.col("vec")))
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 10,
) -> DataFrame:
    """Contrastive hard-negative mining: for each query vector, the top-k
    most-similar corpus vectors carrying a DIFFERENT label — the negatives
    that sit closest to the decision boundary, which is what embedding /
    reranker training actually wants batched against each anchor
    (in-batch random negatives are too easy; these are the hard ones).

    Same exact plan shape as :func:`brute_force_topk` (broadcast queries x
    one corpus scan, per-query window top-k); the label inequality is
    fused into the join condition so same-label rows die before the
    cosine is ever computed. At scale, swap the corpus scan for any of
    the ANN candidate generators and keep the same label-filtered re-rank.

    Returns (query_id, neighbor_id, neighbor_label, cosine, rank).
    NULL labels propagate through the inequality as NULL (row dropped):
    an unlabeled corpus vector is never served as a negative, and an
    unlabeled anchor gets no negatives — filter labels upstream if that
    is not the desired policy.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        F.col(label_col).alias("query_label"),
    )
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("vec"),
        F.col(label_col).alias("neighbor_label"),
    )
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("neighbor_label") != F.col("query_label")),
        )
        .withColumn("cosine", cosine(F.col("query_vec"), F.col("vec")))
        .select("query_id", "neighbor_id", "neighbor_label", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "neighbor_label", "cosine", "rank")
    )


def knn_label_audit(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """Leave-one-out kNN label agreement — the label-noise audit run before
    trusting a labeled embedding table (the Confident-Learning-style
    signal): predict each probe vector's label from its k nearest
    neighbors' majority vote (self excluded) and report per-label
    agreement. Labels whose vectors systematically vote for another class
    are mislabeled or the embedding space doesn't separate them.

    Plan shape: the probe set rides the exact brute-force scan
    (:func:`brute_force_topk` — swap in an ANN candidate generator at
    scale); the |probes| x k hit list is hyperparameter-sized and
    broadcasts back onto the corpus for neighbor labels, so the corpus is
    scanned, never shuffled. Majority ties break (count desc, label asc)
    — deterministic, oracle-replayable.

    Returns (label, n_vectors, n_agree) — rate = n_agree / n_vectors.
    """
    topk = brute_force_topk(
        corpus, queries, id_col=id_col, vec_col=vec_col, k=k
    ).select("query_id", "neighbor_id")
    nb_labels = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("nb_label")
    )
    votes = (
        nb_labels.join(F.broadcast(topk), "neighbor_id")
        .groupBy("query_id", "nb_label")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cnt"), F.asc("nb_label"))
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("nb_label").alias("predicted"))
    )
    own = queries.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("label")
    )
    return (
        pred.join(F.broadcast(own), "query_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum((F.col("predicted") == F.col("label")).cast("bigint")).alias(
                "n_agree"
            ),
        )
    )


def quantize_int8(vec: Column) -> Column:
    """Symmetric per-vector int8 quantization: q_i = halfup(v_i * 127/max|v|).

    The scale-compression step for billion-vector ANN: 4x smaller than
    float32, so 4x more vectors per executor and 4x less shuffle when the
    index is built. Rounding is the engine-portable half-up formula
    (floor(x+0.5)) so an oracle reproduces the exact codes.

    An all-zero vector has max|v| = 0; ``nullif`` keeps that from becoming a
    DIVIDE_BY_ZERO under ANSI sessions and those codes map to 0. Element-level
    NULLs propagate as NULL in BOTH branches (the zero-fill applies only to
    non-NULL elements of a zero vector). The scale-NULL test is hoisted OUT
    of the per-element lambda: HOF lambdas evaluate interpreted with no CSE,
    so a per-element ``scale`` reference would re-run the O(d) array_max
    fold once per element (2x the whole quantization cost)."""
    scale = F.lit(127.0) / F.nullif(
        F.array_max(F.transform(vec, F.abs)).cast("double"), F.lit(0.0)
    )
    return F.when(
        scale.isNull(),
        F.transform(
            vec,
            lambda x: F.when(x.isNotNull(), F.lit(0)).cast("long"),
        ),
    ).otherwise(
        F.transform(
            vec,
            lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast("long"),
        )
    )


def quantized_dot(qa: Column, qb: Column) -> Column:
    """Exact integer dot product of two int8-code arrays (long math — no FP,
    so the value is order-independent and bit-identical across engines)."""
    return F.aggregate(
        F.zip_with(qa, qb, lambda x, y: x * y), F.lit(0).cast("long"), lambda a, v: a + v
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Approximate cosine top-k over int8-quantized codes.

    Same broadcast-queries × corpus-scan plan as :func:`brute_force_topk`,
    but the inner loop is integer multiply-adds over 1-byte codes — the
    memory-bandwidth-bound regime where quantization pays at scale. Score =
    qdot / (|qa|·|qb|), exact up to one final double division."""
    # Norms precomputed in a second select so the quantization expression is
    # evaluated once per row, not re-inlined into every pairwise score.
    q = queries.select(
        F.col(id_col).alias("query_id"), quantize_int8(F.col(vec_col)).alias("qq")
    ).select("query_id", "qq", quantized_dot(F.col("qq"), F.col("qq")).alias("nq"))
    c = ensure_parallelism(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), quantize_int8(F.col(vec_col)).alias("qc")
        ).select("neighbor_id", "qc", quantized_dot(F.col("qc"), F.col("qc")).alias("nc"))
    )
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "qcos",
            quantized_dot(F.col("qq"), F.col("qc"))
            / F.sqrt((F.col("nq") * F.col("nc")).cast("double")),
        )
        .select("query_id", "neighbor_id", "qcos")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "qcos", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _sql_ident(name: str) -> str:
    """Backtick-quote a column NAME for SQL-text interpolation, matching
    F.col's resolution: dots split into nested-field access, every other
    character (dash, space, keyword) is literal. Without this a vec_col
    like ``"embedding-v2"`` would parse as a subtraction of two unresolved
    columns (or silently resolve to something else)."""
    return ".".join("`" + p.replace("`", "``") + "`" for p in name.split("."))


def _project_all(vec: str, flat: list[list[float]]) -> Column:
    """All plane projections in ONE aggregate pass (the single-fold trick
    :func:`random_project` measured 4-6x faster than per-plane folds: HOF
    lambdas run interpreted, so one pass over the input elements carrying a
    wide partial-sum accumulator beats len(flat) separate passes).
    Accumulator j updates in input order — each projection is the same
    sequential left-to-right sum ``acc += x * w`` as ``dot(vec, plane_j)``,
    so the sign bits are bit-identical to a per-plane fold (the form the
    oracle SQL replays).

    ``vec`` is a COLUMN NAME, not a Column: the whole expression is built
    as SQL text and parsed in ONE F.expr call. The Column-API form of this
    tree cost ~0.4s of py4j round-trips per call site (and _pack ~0.9s
    more) — for a 16-table query built twice that was most of the measured
    "query time" before a single row moved (see SCALING.md round-5 find
    #5). Semantics and evaluation order are unchanged: same fold, same
    literals, same codegen after parsing.

    Per-row contracts: a NULL vector gives NULL projections (its
    signature is NULL and joins drop it). A vector whose width differs
    from the plane dim raises: folded against the wrong width, every sign
    test would fall one way and ALL vectors would silently collapse into
    one bucket (a quadratic join, no error).
    """
    vec = _sql_ident(vec)
    total = len(flat)
    dim = len(flat[0])
    # the matrix must stay a NUMERIC-LITERAL nested array: array() of
    # literals is foldable, so ConstantFolding collapses it to one
    # Literal(ArrayData) before codegen even though it sits as a free
    # variable inside the aggregate lambda. The tempting split-string form
    # (two string tokens instead of 6k+ numeric tokens) is a higher-order
    # function, which ConstantFolding does NOT fold — it re-evaluated the
    # 100KB split PER LAMBDA ELEMENT and turned a 1.7s query into 176s.
    # ANTLR lexing the literals costs ~0.5s per call site; that is the
    # cheap side of this trade.
    cols = "array(" + ",".join(
        "array(" + ",".join(f"{flat[j][i]}D" for j in range(total)) + ")"
        for i in range(dim)
    ) + ")"
    proj = (
        f"aggregate("
        f"zip_with({vec}, sequence(1, size({vec})),"
        f" (x, i) -> struct(CAST(x AS DOUBLE) AS x, i AS i)),"
        f" array_repeat(0.0D, {total}),"
        f" (acc, e) -> zip_with(acc, element_at({cols}, e.i),"
        f" (a, m) -> a + e.x * m))"
    )
    return F.expr(
        f"CASE WHEN {vec} IS NULL THEN CAST(NULL AS ARRAY<DOUBLE>) "
        f"WHEN size({vec}) != {dim} THEN CAST(raise_error(concat("
        f"'lsh projections: expected {dim}-dim vector, got ', "
        f"CAST(size({vec}) AS STRING))) AS ARRAY<DOUBLE>) "
        f"ELSE {proj} END"
    )


def _pack_signatures(proj: str, n_tables: int, n_planes: int) -> Column:
    """Pack sign bits of a MATERIALIZED projection column into one bigint
    bucket per table (table t owns projections [t*n_planes, (t+1)*n_planes)).
    Bit i of a table's bucket is set iff its projection i is >= 0.
    ``proj`` is a COLUMN NAME (see _project_all: the expression is
    SQL text, one parse instead of ~n_tables*n_planes*6 py4j calls) and
    must name a real attribute, not the fold expression — this references
    it n_tables*n_planes times, and only CollapseProject's
    used-more-than-once/non-cheap rule keeps the fold from being inlined
    per reference. NULL proj (NULL vector) → NULL bucket array. The CASE
    chain is the same codegen-friendly shape the Column API built.
    """
    proj = _sql_ident(proj)
    buckets = []
    for t in range(n_tables):
        terms = [
            f"CAST((CASE WHEN element_at({proj}, {t * n_planes + i + 1}) >= 0 "
            f"THEN {1 << i} ELSE 0 END) AS BIGINT)"
            for i in range(n_planes)
        ]
        buckets.append(" + ".join(terms))
    arr = "array(" + ", ".join(buckets) + ")"
    return F.expr(
        f"CASE WHEN {proj} IS NULL THEN CAST(NULL AS ARRAY<BIGINT>) "
        f"ELSE {arr} END"
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 12,
    k: int = 10,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: compare only vectors whose LSH bucket matches the
    query's. Recall trades off with n_planes (12 planes → 4096 buckets).
    At 100 TB this is the candidate-generation stage; multiprobe (flipping
    low-confidence bits) or an IVF re-rank raises recall without widening
    the shuffle.
    """
    planes = _hyperplanes(dim, n_planes, seed)

    def with_bucket(df: DataFrame, out_id: str, out_vec: str) -> DataFrame:
        # two-step select: the fold materializes once per row ("_proj"),
        # the bit-pack then reads it n_planes times (see _pack_signatures)
        return df.select(
            F.col(id_col).alias(out_id),
            F.col(vec_col).alias(out_vec),
            _project_all(vec_col, planes).alias("_proj"),
        ).select(
            out_id,
            out_vec,
            F.element_at(
                _pack_signatures("_proj", 1, n_planes), 1
            ).alias("bucket"),
        )

    q = with_bucket(queries, "query_id", "query_vec")
    c = with_bucket(ensure_parallelism(corpus), "neighbor_id", "vec")
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine(F.col("query_vec"), F.col("vec")))
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def lsh_topk_multi(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 16,
    k: int = 10,
    seed: int = 42,
) -> DataFrame:
    """Multi-table LSH top-k: ``n_tables`` independent sign-bit tables of
    ``n_planes`` bits each; a vector is a candidate if it collides with the
    query in ANY table — the standard recall amplifier (1-(1-p^b)^L) when a
    single table's collision probability is too selective. Table ``t`` uses
    seed ``seed + t``.

    Scale shape: each side computes all table signatures in one narrow
    pass, then ships thin (id, table, bucket) rows; the candidate join is
    per-(table, bucket) so shuffle volume tracks collisions, not corpus².
    Candidate pairs are deduped before the (more expensive) cosine re-rank.
    """
    tables = [_hyperplanes(dim, n_planes, seed + t) for t in range(n_tables)]
    flat = [plane for planes in tables for plane in planes]

    def melted(df: DataFrame, out_id: str) -> DataFrame:
        # single-fold: ALL n_tables*n_planes projections in one aggregate
        # pass (bit-identical to per-table folds — parity-tested),
        # materialized as "_proj" so the bit-pack reads, not recomputes, it.
        # A NULL vector posexplodes to zero rows: it joins no bucket.
        return df.select(
            F.col(id_col).alias(out_id),
            _project_all(vec_col, flat).alias("_proj"),
        ).select(
            out_id,
            F.posexplode(
                _pack_signatures("_proj", n_tables, n_planes)
            ).alias("table_id", "bucket"),
        )

    q_vec = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    cand = (
        melted(ensure_parallelism(corpus), "neighbor_id")
        .join(F.broadcast(melted(queries, "query_id")), ["table_id", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    scored = (
        cand.join(
            # corpus-sized vector table, unhinted: its size estimate is
            # scan-proportional, so the optimizer broadcasts only while the
            # vectors genuinely fit and flips to a shuffle join at scale
            # (see dedup.jaccard_similarity_join's JOIN STRATEGY note)
            corpus.select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vec")
            ),
            "neighbor_id",
        )
        .join(F.broadcast(q_vec), "query_id")
        .withColumn("cosine", cosine(F.col("query_vec"), F.col("vec")))
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _rp_matrix(dim: int, out_dim: int, seed: int = 42) -> list[list[float]]:
    """Seeded ±1 random-projection rows (the database-friendly JL-lemma
    construction — Achlioptas 2003: ±1 entries preserve pairwise distances
    like Gaussian ones, and exact ±1.0 literals make the projection
    bit-reproducible in any SQL engine, unlike rounded Gaussians)."""
    rng = random.Random(seed)
    return [
        [1.0 if rng.random() < 0.5 else -1.0 for _ in range(dim)]
        for _ in range(out_dim)
    ]


def random_project(vec: Column, rows: list[list[float]]) -> Column:
    """Project a vector onto each ±1 row: out[j] = <v, rows[j]>.

    SINGLE-fold form (same trick as dedup.minhash_signature): one
    aggregate pass over the input elements carrying an out_dim-wide
    partial-sum accumulator, zip_with'd against the constant-folded
    column matrix — measured 4-6x faster than out_dim separate dot folds
    (HOF lambdas run interpreted; one pass over the array beats out_dim
    passes, and Catalyst constant-folds the matrix literal once).
    Accumulator j updates in input order, exactly like a per-row dot
    fold, so projections are BIT-IDENTICAL to the naive form and to the
    SQL oracle's sequential list_sum."""
    out_dim = len(rows)
    dim = len(rows[0])
    cols = "array(" + ",".join(
        "array(" + ",".join(f"{rows[j][i]}D" for j in range(out_dim)) + ")"
        for i in range(dim)
    ) + ")"
    zipped = F.zip_with(
        vec,
        F.sequence(F.lit(1), F.size(vec)),
        lambda x, i: F.struct(x.cast("double").alias("x"), i.alias("i")),
    )
    proj = F.aggregate(
        zipped,
        F.expr(f"array_repeat(0.0D, {out_dim})"),
        lambda acc, e: F.zip_with(
            acc,
            F.element_at(F.expr(cols), e["i"]),
            lambda a, m: a + e["x"] * m,
        ),
    )
    # same per-row width contract as _project_all: a vector narrower or
    # wider than the matrix must FAIL LOUDLY, not silently project onto a
    # prefix of the matrix (the silent-collapse failure mode); NULL
    # vectors pass through as NULL (joins drop the row).
    return (
        F.when(vec.isNull(), F.lit(None).cast("array<double>"))
        .when(
            F.size(vec) != F.lit(dim),
            F.raise_error(
                F.concat(
                    F.lit(f"random_project: vector width "),
                    F.size(vec).cast("string"),
                    F.lit(f" != matrix dim {dim}"),
                )
            ).cast("array<double>"),
        )
        .otherwise(proj)
    )


def rp_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dim: int = 16,
    k: int = 10,
    seed: int = 42,
) -> DataFrame:
    """Cosine top-k in a random-projection sketch space (dim → out_dim).

    The dimensionality-reduction path of ANN: the projection shrinks every
    downstream cost — shuffle bytes, cache footprint, per-pair arithmetic —
    by dim/out_dim while JL-preserving angles only to ~sqrt(log n/out_dim)
    distortion. That makes this a CANDIDATE generator, not a ranker: run
    it with a wide beam (k ≫ final k) and exact-re-rank the survivors in
    full dimension with :func:`brute_force_topk` over beam*|queries| rows.
    Measured on the sf0.01 corpus (noise-like: exact top-10 cosines span
    just 0.24-0.40, the hardest ranking case): candidate recall of the
    exact top-10 inside the projected top-beam is 0.30 (16d, beam 50),
    0.54 (16d, 100), 0.52 (32d, 50), 0.86 (32d, 100) — gated at the
    32d/100 point in tests/test_llmops_algos.py. Same plan shape as brute
    force (broadcast queries × one corpus scan), so projected search at
    100 TB scans once with dim/out_dim less math.

    Deterministic given ``seed``: the matrix is ±1 literals, so projected
    scores are bit-reproducible across engines (oracle-checkable).
    """
    dim_rows = _rp_matrix(_first_dim(corpus, vec_col), out_dim, seed)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        random_project(F.col(vec_col), dim_rows).alias("cv"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        random_project(F.col(vec_col), dim_rows).alias("qv"),
    )
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine(F.col("qv"), F.col("cv")))
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def rp_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dim: int = 32,
    beam: int = 100,
    k: int = 10,
    seed: int = 42,
) -> DataFrame:
    """Two-stage ANN: random-projection beam search + exact full-dimension
    re-rank — the production operating point :func:`rp_topk`'s docstring
    prescribes, packaged as one operator. Stage 1 scans the corpus once in
    the out_dim sketch space and keeps a ``beam``-wide candidate list per
    query; stage 2 recomputes exact cosines for only |queries| x beam
    pairs and returns the top ``k``. At 100 TB: one cheap corpus scan
    (dim/out_dim less math), then a re-rank whose cost is beam-bounded —
    the candidate list broadcasts BY CONSTRUCTION (|q| x beam rows,
    hyperparameter-sized), never the corpus. Fully deterministic, so both
    stages replay exactly in a SQL oracle.
    """
    cand = rp_topk(
        corpus, queries, id_col=id_col, vec_col=vec_col, out_dim=out_dim,
        k=beam, seed=seed,
    ).select("query_id", "neighbor_id")
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    scored = (
        c.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("cosine", cosine(F.col("qv"), F.col("cv")))
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_py(a, b) -> float:
    """Driver-side form of :func:`cosine` — the SAME left-to-right fold
    (acc starts at 0.0, each float32 element widened to double before the
    multiply, one summation order), so the result is bit-identical to the
    JVM HOF fold and to DuckDB's list_sum. Used only over bounded state
    (the kmeans_train_portable precedent: pure-Python replay is what makes
    a driver-side step oracle-checkable)."""
    num = 0.0
    for x, y in zip(a, b):
        num += float(x) * float(y)
    na = 0.0
    for x in a:
        na += float(x) * float(x)
    nb = 0.0
    for y in b:
        nb += float(y) * float(y)
    return num / (math.sqrt(na) * math.sqrt(nb))


def mmr_greedy(
    pool: list[tuple[int, float]],
    sims: dict[tuple[int, int], float],
    *,
    k: int,
    lam: float,
) -> list[tuple[int, int, float, float]]:
    """The K-step greedy Maximal-Marginal-Relevance argmax over BOUNDED
    collected state: ``pool`` is the ≤N-row (id, relevance) list, ``sims``
    the ≤N² pairwise-similarity map. Each step picks
    ``argmax lam*rel - (1-lam)*max(sim to selected)`` with ties broken on
    the smaller id — float ops in the exact order the SQL oracle replays
    (lam*rel - om*ms; max is a comparison, not arithmetic), so the scores
    are bit-identical to the sim_mmr_diversify oracle's chained CTEs.
    Returns (step, id, rel, mmr) tuples."""
    om = 1 - lam
    remaining = dict(sorted(pool))
    selected: list[int] = []
    out: list[tuple[int, int, float, float]] = []
    for step in range(1, k + 1):
        best_id, best_mmr, best_rel = None, None, None
        for cid, rel in remaining.items():
            ms = 0.0
            if selected:
                ms = max(sims[(cid, sid)] for sid in selected)
            mmr = (lam * rel) - (om * ms)
            if best_mmr is None or mmr > best_mmr:
                best_id, best_mmr, best_rel = cid, mmr, rel
        if best_id is None:
            break
        out.append((step, best_id, best_rel, best_mmr))
        selected.append(best_id)
        del remaining[best_id]
    return out


def mmr_diversify_rows(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    pool_n: int = 20,
    lam: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, int, float, float]]:
    """Bounded-state MMR diversified re-ranking of one query's pool.

    The ONLY corpus-scaled term is the relevance pool build — one
    :func:`brute_force_topk` scan (at 100 TB the IVF/LSH index swaps in
    for the same bounded pool). Everything after is ≤pool_n rows + ≤pool_n²
    pairwise sims, i.e. bounded DRIVER state by construction — so it
    collects ONCE (ids, relevances, embeddings in a single small job) and
    the K-step greedy argmax runs in pure Python via :func:`mmr_greedy`
    (the bpe_train bounded-state doctrine). A lazy DataFrame form of the
    greedy chains orderBy/limit/left_anti lineage per step, so Catalyst
    re-plans an ever-wider tree (~9 s of planning for a 20-row pool).
    Picks and raw scores are pinned against a pure-Python greedy over the
    collected embeddings in tests/test_llmops_algos.py."""
    pool = brute_force_topk(corpus, queries, id_col=id_col, vec_col=vec_col,
                            k=pool_n).select(
        "query_id", F.col("neighbor_id").alias("_mid"), F.col("cosine").alias("_rel")
    )
    rows = (
        corpus.select(F.col(id_col).alias("_mid"), F.col(vec_col).alias("_vec"))
        .join(F.broadcast(pool), "_mid")
        .collect()
    )
    # MMR re-ranks ONE retrieval pool; a multi-query frame would
    # silently interleave pools here (per-query MMR = call per query)
    qids = {r["query_id"] for r in rows}
    if len(qids) > 1:
        raise ValueError(f"mmr_diversify_rows is single-query; got {sorted(qids)}")
    pool_rows = [(r["_mid"], r["_rel"]) for r in rows]
    vecs = {r["_mid"]: r["_vec"] for r in rows}
    ids = sorted(vecs)
    sims = {
        (a, b): cosine_py(vecs[a], vecs[b]) for a in ids for b in ids if a != b
    }
    return mmr_greedy(pool_rows, sims, k=k, lam=lam)


# ---------------------------------------------------------------------------
# Product quantization (round 11): the canonical ANN memory-compression
# path at 100 TB — each vector becomes m sub-codes (here 8 x 4-bit-ish
# ints: 64-dim float32 = 256 bytes -> ~8 bytes + id, a 32x scan-width
# reduction), and the query-time scan reads ONLY the code columns with
# per-subspace lookup tables (ADC), never the vectors. Composes with IVF
# (coarse cells, PQ within a cell) exactly like production FAISS indexes.
# Everything is deterministic (lowest-id seeding, argmin tie-break on the
# lower code), so recall is measurable in pytest
# the same way the LSH/IVF paths are.
# ---------------------------------------------------------------------------


def _unit_vec(df: DataFrame, vec_col: str, out: str) -> DataFrame:
    """Append an L2-normalized double copy of ``vec_col`` (zero vectors
    pass through unscaled rather than dividing by zero). PQ trains and
    encodes on unit vectors so squared-L2 ADC distance is monotone with
    cosine (||a-b||^2 = 2 - 2cos on the unit sphere) and the recall
    baseline stays the cosine brute force."""
    n = norm(F.col(vec_col))
    return df.withColumn(
        out,
        F.when(
            n == 0, F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).otherwise(F.transform(F.col(vec_col), lambda x: x.cast("double") / n)),
    )


def _unit_rows_np(np, vec_rows):
    """numpy twin of :func:`_unit_vec` over an in-memory row list — the
    SAME IEEE op sequence (per-element exactly-rounded squares accumulated
    sequentially left-to-right, sqrt, per-element divide; zero-norm rows
    pass through unscaled), so the unit vectors are bit-identical to the
    JVM fold's. Shared by pq_train and the PQ encode kernel."""
    X = np.array(vec_rows, dtype=np.float64)
    if X.size == 0:
        return X
    sq = X * X
    nacc = sq[:, 0].copy()
    for t in range(1, X.shape[1]):
        nacc += sq[:, t]
    n = np.sqrt(nacc)
    nz = n != 0.0
    U = X.copy()
    U[nz] = X[nz] / n[nz, None]
    return U


def pq_train(
    corpus: DataFrame,
    *,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iterations: int = 5,
    train_limit: int = 4096,
) -> list[list[list[float]]]:
    """Train per-subspace codebooks on a BOUNDED sample, driver-side.

    Production PQ (FAISS et al.) trains on an in-memory sample matrix —
    the sample is hyperparameter-sized by construction (``train_limit``
    lowest-id rows, deterministic), so this is the kmeans/bpe
    bounded-state doctrine applied to index training: collect the sample
    ONCE (train_limit x dim doubles) and run Lloyd's in numpy for all m
    subspaces, instead of 4 x m distributed jobs whose literal-bearing
    assignment expressions pay the Janino compile tax every iteration
    (measured 13-31s for a 500-row corpus; numpy trains in
    milliseconds). The corpus-scaled work — the ENCODE pass over every
    row and the ADC scan — stays in Spark, in :func:`pq_encode` /
    :func:`pq_topk`.

    Deterministic: seeds are the k lowest-id sample rows' subvectors (no
    RNG), assignment ties go to the lower code (numpy argmin takes the
    first minimum), empty clusters keep their previous centroid.
    Returns codebooks[j][c] — m*k*(dim/m) floats."""
    import numpy as np

    dim = _first_dim(corpus, vec_col)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    rows = (
        corpus.select(F.col(id_col).alias("_pqid"), F.col(vec_col).alias("_v"))
        .orderBy("_pqid")
        .limit(train_limit)
        .collect()
    )
    if len(rows) < k:
        raise ValueError(f"need >= {k} rows to seed, got {len(rows)}")
    # unit-normalize in numpy after the collect, with the op sequence of
    # _unit_vec/norm: sequential sum of exactly-rounded squares, sqrt,
    # per-element divide; zero vectors pass through (pinned by the ADC
    # oracle)
    X = _unit_rows_np(np, [r["_v"] for r in rows])
    codebooks = []
    for j in range(m):
        Xj = X[:, j * sub : (j + 1) * sub]
        cents = Xj[:k].copy()
        for _ in range(max_iterations):
            d2 = ((Xj[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            new_cents = cents.copy()
            for c in range(k):
                members = Xj[assign == c]
                if len(members):
                    new_cents[c] = members.mean(axis=0)
            if np.array_equal(new_cents, cents):
                break
            cents = new_cents
        codebooks.append([[float(v) for v in c] for c in cents])
    return codebooks


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    vec_col: str = "embedding",
    prefix: str = "_pq",
) -> DataFrame:
    """Append one small int code column per subspace: the argmin-distance
    centroid, ties to the lower code. One narrow scan — this is the
    WRITE-side pass that turns a 100 TB vector column into a few bytes
    per row; at rest the codes live next to the id and the vectors need
    never be scanned again for ANN.

    The kernel is one Arrow-batched pandas UDF over the RAW vector column:
    it unit-normalizes each batch (:func:`_unit_rows_np`, the op sequence
    of :func:`_unit_vec`) and takes all m argmins with numpy. Each squared
    sub-distance accumulates sequentially over the sub-dim axis (no
    pairwise reassociation), the same IEEE op sequence as DuckDB's
    ``list_sum``, so the sim_pq_adc_topk oracle replays the codes bit for
    bit. A NULL or wrong-width vector gets NULL codes."""
    codes = _pq_codes_arrow_udf(codebooks)(F.col(vec_col))
    out = df.withColumn("_pqcodes", codes)
    for j in range(len(codebooks)):
        out = out.withColumn(f"{prefix}{j}", F.col("_pqcodes").getItem(j).cast("int"))
    return out.drop("_pqcodes")


def _pq_codes_arrow_udf(codebooks: list[list[list[float]]]):
    """Build the Arrow batch kernel of :func:`pq_encode`: a SCALAR pandas
    UDF mapping a raw vector column to its m PQ codes (array<int>)."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType

    cents = [np.array(book, dtype=np.float64) for book in codebooks]
    m = len(codebooks)
    sub = cents[0].shape[1]
    dim = m * sub

    # the function name is the UDF name query plans show
    @F.pandas_udf(ArrayType(IntegerType()))
    def pq_encode_kernel(uv: pd.Series) -> pd.Series:
        vals = uv.to_numpy()
        ok = np.array(
            [v is not None and len(v) == dim for v in vals], dtype=bool
        )
        out = np.empty(len(vals), dtype=object)
        if ok.any():
            X = _unit_rows_np(np, list(np.stack(vals[ok]).astype(np.float64)))
            codes = np.empty((len(X), m), dtype=np.int32)
            for j in range(m):
                Xj = X[:, j * sub : (j + 1) * sub]
                sq = Xj[:, None, :] - cents[j][None, :, :]
                sq *= sq
                # d2 = ((sq0 + sq1) + sq2) + ...: sequential, like
                # list_sum. numpy's .sum(-1) reduces pairwise for
                # 8 <= n <= 128 and can differ in the last ulp.
                d2 = sq[:, :, 0].copy()
                for t in range(1, sub):
                    d2 += sq[:, :, t]
                codes[:, j] = d2.argmin(axis=1)  # first minimum: lowest code
            for i, row in zip(np.flatnonzero(ok), codes):
                out[i] = row.tolist()
        return pd.Series(out)

    return pq_encode_kernel


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query builds a
    driver-side m x |codebook| lookup table of exact subspace distances
    to its UNIT vector, embedded as literal arrays — the scan then sums m
    element_at lookups per row over the small code columns and never
    touches the vector column. Returns (query_id, neighbor_id, adc_dist,
    rank), ascending distance, ties to the lower neighbor id.

    Scale shape: the corpus term is one scan of (id + m codes); the LUT
    is hyperparameter-sized per query. Recall is graded against the
    cosine brute force in tests/test_similarity_recall.py (on the unit
    sphere squared-L2 is monotone with cosine); compose with IVF cells
    for the sub-linear candidate set at 100 TB."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    coded = ensure_parallelism(
        pq_encode(
            corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col)),
            codebooks,
            vec_col=vec_col,
        ).select("neighbor_id", *[f"_pq{j}" for j in range(m)])
    )
    qrows = (
        _unit_vec(queries, vec_col, "_uvq")
        .select(F.col(id_col).alias("_qid"), "_uvq")
        .collect()
    )
    # ONE corpus scan for every query: each row explodes into |q|
    # (query_id, adc_dist) structs whose LUT sums ride in as literals —
    # the lsh_topk_multi melt pattern, instead of one scan (and one
    # re-encode) per query
    per_query = []
    for r in qrows:
        qv = [float(x) for x in r["_uvq"]]
        dist = F.lit(0.0)
        for j, book in enumerate(codebooks):
            qs = qv[j * sub : (j + 1) * sub]
            lut = [
                sum((a - b) * (a - b) for a, b in zip(qs, c)) for c in book
            ]
            dist = dist + F.element_at(
                F.array(*[F.lit(v) for v in lut]), F.col(f"_pq{j}") + 1
            )
        per_query.append(
            F.struct(
                F.lit(r["_qid"]).alias("query_id"), dist.alias("adc_dist")
            )
        )
    scored = (
        coded.select(
            "neighbor_id", F.explode(F.array(*per_query)).alias("_s")
        )
        .select(
            F.col("_s.query_id").alias("query_id"),
            "neighbor_id",
            F.col("_s.adc_dist").alias("adc_dist"),
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


def pq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    beam: int = 100,
    k: int = 10,
) -> DataFrame:
    """Two-stage PQ ANN: ADC beam search over the code columns + exact
    full-dimension cosine re-rank — the production operating point (the
    rp_rerank_topk shape with PQ as stage 1). Stage 1 reads only the
    m-byte codes (the 32x scan-width win); stage 2 recomputes exact
    cosines for |queries| x beam pairs, so final scores are bit-equal to
    brute force on every returned pair and recall@k equals stage-1
    candidate recall. Candidate list broadcasts by construction
    (|q| x beam rows)."""
    cand = pq_topk(
        corpus, queries, codebooks, id_col=id_col, vec_col=vec_col, k=beam
    ).select("query_id", "neighbor_id")
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    scored = (
        c.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("cosine", cosine(F.col("qv"), F.col("cv")))
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 4,
    beam: int = 100,
    k: int = 10,
    iterations: int = 5,
) -> DataFrame:
    """IVF+PQ — the production ANN index composition (what FAISS calls
    IVFPQ, the shape large-scale retrieval actually deploys): a coarse
    quantizer (the oracle-proven portable k-means from
    clustering.kmeans_train_portable, imported unmodified) partitions the
    corpus into ``n_cells`` inverted lists for SUB-LINEAR candidate sets,
    PQ codes rank candidates inside the ``n_probe`` probed cells by ADC
    (the code-column scan — ~32x narrower than vectors), and the final
    ``beam`` re-ranks with exact cosines.

    Scale shape: both index passes (cell assignment + PQ encode) fuse
    into ONE write-side corpus scan producing (id, cell, m codes); the
    query-time scan reads only that narrow index, filtered to probed
    cells (candidates ~ corpus * n_probe / n_cells), with every query's
    probe set and LUT riding in as literals (probe choice runs driver-
    side over the hyperparameter-sized centroid matrix — the same
    (dist, cid) lexicographic order as ivf_topk_portable). Exact stage-3
    cosines are bit-equal to brute force on every returned pair."""
    import numpy as np

    from ecommerce_etl_pipeline_spark.llmops.clustering import (
        assign_to_seeds,
        kmeans_train_portable,
    )

    m = len(codebooks)
    sub = len(codebooks[0][0])
    centroids = kmeans_train_portable(
        corpus, k=n_cells, id_col=id_col, vec_col=vec_col,
        iterations=iterations,
    )
    spark = corpus.sparkSession
    seeds = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)], "cid INT, cvec ARRAY<DOUBLE>"
    )
    # one fused write-side pass: cell + PQ codes per corpus row
    assigned = assign_to_seeds(corpus, seeds, id_col=id_col, vec_col=vec_col).select(
        F.col("id").alias("neighbor_id"),
        F.col("cluster").alias("cell"),
        F.col("vec"),
    )
    index = ensure_parallelism(
        pq_encode(assigned, codebooks, vec_col="vec").select(
            "neighbor_id", "cell", *[f"_pq{j}" for j in range(m)]
        )
    )

    qrows = (
        _unit_vec(queries, vec_col, "_uvq")
        .select(
            F.col(id_col).alias("_qid"),
            "_uvq",
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_rawq"),
        )
        .collect()
    )
    cents = np.array(centroids, dtype=np.float64)
    per_query = []
    for r in qrows:
        # probe choice: squared L2 on the RAW vector against the coarse
        # centroids (the cells partition raw space), ties to lower cid —
        # driver-side over k x dim floats, the bounded-state class
        raw = np.array([float(x) for x in r["_rawq"]], dtype=np.float64)
        d2 = ((cents - raw[None, :]) ** 2).sum(axis=1)
        order = sorted(range(n_cells), key=lambda c: (d2[c], c))
        probe_cells = order[:n_probe]
        qv = [float(x) for x in r["_uvq"]]
        dist = F.lit(0.0)
        for j, book in enumerate(codebooks):
            qs = qv[j * sub : (j + 1) * sub]
            lut = [sum((a - b) * (a - b) for a, b in zip(qs, c)) for c in book]
            dist = dist + F.element_at(
                F.array(*[F.lit(v) for v in lut]), F.col(f"_pq{j}") + 1
            )
        in_probed = F.col("cell").isin(*[int(c) for c in probe_cells])
        per_query.append(
            F.struct(
                F.lit(r["_qid"]).alias("query_id"),
                F.when(in_probed, dist).alias("adc_dist"),  # null outside
            )
        )
    cand = (
        index.select("neighbor_id", F.explode(F.array(*per_query)).alias("_s"))
        .select(
            F.col("_s.query_id").alias("query_id"),
            "neighbor_id",
            F.col("_s.adc_dist").alias("adc_dist"),
        )
        .filter(
            F.col("adc_dist").isNotNull()
            & (F.col("neighbor_id") != F.col("query_id"))
        )
    )
    wb = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    beam_df = (
        cand.withColumn("rank", F.row_number().over(wb))
        .filter(F.col("rank") <= beam)
        .select("query_id", "neighbor_id")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    scored = (
        c.join(F.broadcast(beam_df), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("cosine", cosine(F.col("qv"), F.col("cv")))
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _first_dim(df: DataFrame, vec_col: str) -> int:
    """Embedding width read from the data (never a trusted parameter —
    see the lsh dim-mismatch guard this mirrors). NULL-vector rows are
    skipped so a NULL that happens to sort first cannot mask the real
    width; per-row consistency with this width is then enforced inside
    random_project."""
    row = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.size(F.col(vec_col)).alias("d"))
        .first()
    )
    if row is None or row["d"] is None:
        raise ValueError(f"cannot derive dim: no non-null {vec_col} rows")
    return int(row["d"])


def topk_recall(exact: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """Per-query recall@k of ``approx`` against ``exact`` — both are
    (query_id, neighbor_id, ...) top-k frames. The generic quality probe
    for ANY approximate index (LSH, IVF, quantized): hits = |approx ∩
    exact|, recall = hits/k. Both sides are |queries| x k rows; the probe
    side broadcasts."""
    a = approx.select("query_id", "neighbor_id", F.lit(1).alias("_hit"))
    return (
        exact.select("query_id", "neighbor_id")
        .join(F.broadcast(a), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("bigint").alias("hits"))
        .select(
            "query_id",
            "hits",
            (F.col("hits").cast("double") / F.lit(float(k))).alias("recall"),
        )
    )


def lsh_recall(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    dim: int = 64,
    n_planes: int = 12,
    n_tables: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Recall@k of the LSH candidate path against the exact brute-force
    baseline, per query: ``hits`` = |LSH top-k ∩ exact top-k|, ``recall`` =
    hits / k. Deterministic given the plane seed, so the quality of the
    approximate index is itself a checkable quantity — the measurement you
    run before trusting an ANN index at scale (and re-run when n_planes /
    corpus distribution changes).

    Cost: one brute-force pass over the query set (small by construction)
    plus the LSH probe — both broadcast-queries × corpus-scan shapes.
    """
    exact = brute_force_topk(
        corpus, queries, id_col=id_col, vec_col=vec_col, k=k
    ).select("query_id", "neighbor_id")
    if n_tables > 1:
        approx = lsh_topk_multi(
            corpus,
            queries,
            id_col=id_col,
            vec_col=vec_col,
            dim=dim,
            n_planes=n_planes,
            n_tables=n_tables,
            k=k,
            seed=seed,
        )
    else:
        approx = lsh_topk(
            corpus,
            queries,
            id_col=id_col,
            vec_col=vec_col,
            dim=dim,
            n_planes=n_planes,
            k=k,
            seed=seed,
        )
    return topk_recall(exact, approx, k)

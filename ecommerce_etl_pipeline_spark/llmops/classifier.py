"""Distributed quality-classifier TRAINING — the FineWeb-Edu pipeline
stage (train a cheap linear scorer on judge labels, then gate the corpus
with it at scale) that the fixed-coefficient ``text.quality_logit_score``
only APPLIES. Reference repo has no training stage at all (its src/
transforms are eager pandas filters); this is north-star llmops surface.

Design for 100 TB:
- one full-corpus scan per training iteration, reduced by a map-side-
  combinable aggregate to a SINGLE row of d gradient sums — the driver
  holds d integers (the kmeans-centroid class of bounded statistic), so
  nothing driver-side grows with the corpus;
- the feature frame is materialized once and reused by every iteration;
- scoring/eval is one narrow pass with the weights baked in as literals.

Bit-portability (the pagerank/kmeans doctrine, no transcendentals):
- the link function is the FAST SIGMOID s(z) = 0.5 + z / (2 * (1 + |z|))
  — add/mul/div/abs only, every step exactly-rounded IEEE, so Spark and
  any SQL engine produce identical doubles (exp() differs across libms
  in the last ulp and COMPOUNDS over iterations; the fast sigmoid is the
  standard bounded s-curve without it);
- features are ratios of INTEGER counts (stopword hits / token count,
  punct chars / length, capped length) — integer-to-double conversion
  and one division are both exactly rounded;
- per-row gradient contributions quantize to integer NANOS
  (floor(g * 1e9 + 0.5) as bigint): integer sums are order-independent,
  so the aggregate is partition- and engine-invariant;
- the weight update w -= trunc((lr_num * G) / (lr_den * n)) uses
  TRUNCATING integer division on both sides: DuckDB's integer ``//``
  truncates toward zero on negatives (measured: -7 // 2 = -3 — it is
  NOT floor for integer operands), matching Spark's ``div``; Python's
  ``//`` floors, so the driver uses an explicit trunc_div;
- a FIXED iteration count unrolls into plain (materialized) CTEs.

The quantization costs <= 0.5e-9 per row per step — far below any
decision-relevant scale — and buys exact replay: the full training loop
is oracle-checkable, not just the final apply.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ecommerce_etl_pipeline_spark.llmops import text
from ecommerce_etl_pipeline_spark.operators import caches, venue
from ecommerce_etl_pipeline_spark.operators.parallelism import ensure_parallelism

#: nano quantization scale for gradient sums / weights
NANO = 1_000_000_000

#: gradient-venue crossover: at or below this feature width the trainer
#: uses d codegen'd wide sum columns (cheapest per row — the term that
#: dominates at scale); above it, the O(1)-in-d array/posexplode venue
#: (wide-agg planning would not survive production bucket counts). See
#: the venue comment in train_linear_scorer.
_WIDE_AGG_MAX_D = 16

def trunc_div(a: int, b: int) -> int:
    """Integer division truncating toward zero — the semantics of
    DuckDB's integer ``//`` and Spark's ``div`` (Python's ``//`` floors,
    which diverges on negative numerators by exactly 1)."""
    q = abs(a) // abs(b)
    return -q if (a < 0) != (b < 0) else q


def quality_feature_exprs(t: Column) -> list[Column]:
    """The d=5 scorer features, every one a ratio of integer counts
    (IEEE-exact in any engine): bias, en/es stopword-hit ratios, punct
    character ratio, capped token count. Mirrored literally by the feats
    CTE in plans/llmops_queries.py::_logreg_sql."""
    n = F.greatest(text.token_count(t), F.lit(1)).cast("double")
    chars = F.greatest(F.length(t), F.lit(1)).cast("double")
    punct = F.length(F.regexp_replace(t, r"[a-z0-9 ]", "")).cast("double")
    return [
        F.lit(1.0),
        text.stopword_hits(t, "en").cast("double") / n,
        text.stopword_hits(t, "es").cast("double") / n,
        punct / chars,
        F.least(n, F.lit(100.0)) / F.lit(100.0),
    ]


#: default hashed-feature geometry: the 5 quality ratios (bias included)
#: + (HASHED_D - 5) hashed-unigram buckets. The hand-picked ratios stay
#: IN the wide geometry — the heuristic judge's label is a function of
#: length and punctuation, which bucket-count ratios cannot see, so a
#: buckets-only d=64 model trained to BELOW-chance holdout accuracy
#: (0.447 measured) while the superset geometry can only refine d=5.
HASHED_D = 64
HASHED_SALT = "clsfeat:v1"


def _bucket_of(tok: Column, n_buckets: int, salt: str) -> Column:
    """md5-portable bucket id of one token (splits.hash_uint32 % d) —
    the single source both the staged array and the fold gate build on."""
    from ecommerce_etl_pipeline_spark.llmops.splits import hash_uint32

    return F.pmod(hash_uint32(tok, salt), F.lit(n_buckets))


def hashed_bucket_array(
    t: Column, *, n_buckets: int = HASHED_D - 5, salt: str = HASHED_SALT
) -> Column:
    """Per-token md5 bucket ids as one array<int> — the expensive half of
    the hashed feature set, built ONCE so callers can stage it as a real
    column (see hashed_feature_exprs on why staging is load-bearing)."""
    return F.transform(text.tokens(t), lambda tok: _bucket_of(tok, n_buckets, salt))


def hashed_feature_exprs(
    t: Column,
    *,
    n_buckets: int = HASHED_D - 5,
    salt: str = HASHED_SALT,
    bs: Column | None = None,
    bs_sql: str | None = None,
) -> list[Column]:
    """Production-width features: the d=5 quality ratios PLUS
    ``n_buckets`` hashed-unigram ratios count(tokens in bucket j) /
    token_count (the DSIR hashing trick of splits.importance_logweights
    applied to the classifier). The bucket of a token is md5-portable
    (splits.hash_uint32 % n_buckets); each feature is one integer count
    over the bucket array divided by the integer token count —
    IEEE-exact in any engine, same doctrine as the d=5 ratios.

    ``bs`` MUST be a STAGED column (a plain attribute from a lower
    projection holding :func:`hashed_bucket_array`) in any hot path:
    Spark's subexpression elimination skips trees containing
    LambdaVariable, so inlining the transform here would re-split and
    re-md5 the text once PER FEATURE COLUMN — O(d * tokens) md5 per row,
    ~59x the hashing cost at d=64 (ADVICE r8 #1; the DuckDB oracle
    always staged it in a subquery). CollapseProject will not merge the
    staging projection away: an alias referenced more than once is only
    collapsed when cheap, and the transform is not (pinned by the
    single-md5-site plan gate, tests/test_llmops_algos.py::
    test_hashed_featurize_stages_bucket_array_single_md5_site). The inline
    fallback (``bs=None``) exists for ad-hoc/one-feature use only.

    Scale shape with staging: O(tokens) md5 per row once + O(d * tokens)
    integer comparisons, all JVM HOFs across two narrow projections; the
    feature WIDTH changes only the aggregate row (d gradient sums),
    never the shuffle row count."""
    if bs is None and bs_sql is not None:
        bs = F.expr(bs_sql)
    if bs is None:
        bs = hashed_bucket_array(t, n_buckets=n_buckets, salt=salt)
    # token count == size of the bucket array (transform is 1:1), so the
    # staged array also serves as the denominator source — no re-split
    n = F.greatest(F.size(bs), F.lit(1)).cast("double")
    if bs_sql is not None:
        # r14: with a NAMED staged column the per-bucket counts parse as
        # one SQL fragment each instead of n_buckets Python-lambda HOF
        # constructions — identical expression tree (ArrayFilter over the
        # staged attribute), but ~8 py4j round trips per lambda collapse
        # to one parse call (measured ~1 s -> ~0.2 s of pure driver time
        # per featurize(hashed) build at d=64; guide §7.3's plan-build
        # class). The Column path below stays for ad-hoc/unnamed inputs.
        return quality_feature_exprs(t) + [
            F.expr(f"CAST(size(filter({bs_sql}, b -> b = {j})) AS DOUBLE)") / n
            for j in range(n_buckets)
        ]
    return quality_feature_exprs(t) + [
        F.size(F.filter(bs, lambda b: b == F.lit(j))).cast("double") / n
        for j in range(n_buckets)
    ]


def heuristic_quality_label(t: Column) -> Column:
    """The 'judge' whose verdicts the scorer distills: a document passes
    when it is long enough AND not punctuation-heavy. Both comparisons
    are on IEEE-exact values, so the label replays in SQL."""
    n = F.greatest(text.token_count(t), F.lit(1)).cast("double")
    chars = F.greatest(F.length(t), F.lit(1)).cast("double")
    punct = F.length(F.regexp_replace(t, r"[a-z0-9 ]", "")).cast("double")
    return ((n >= 40) & (punct / chars <= 0.2)).cast("int")


def fast_sigmoid(z: Column) -> Column:
    return F.lit(0.5) + z / (F.lit(2.0) * (F.lit(1.0) + F.abs(z)))


def featurize(
    docs: DataFrame, text_col: str = "text", *, features: str = "quality"
) -> DataFrame:
    """The feature frame + heuristic label — the input both training and
    held-out evaluation consume (one narrow map per corpus pass).
    ``features``: "quality" = the d=5 hand-picked ratios; "hashed" = the
    d=64 hashed-unigram buckets (hashed_feature_exprs). The label is the
    same heuristic judge either way, so the two geometries are directly
    comparable on held-out accuracy.

    NULL text folds to '' BEFORE feature extraction (mirrored in the
    oracle's feats CTE): without it a NULL row propagates NULL features
    on the Spark side while SQL CASE/aggregate semantics count it
    differently — the SimHash NULL-text divergence class.

    The hashed path STAGES the bucket array as a real column in a lower
    projection (the reason is on hashed_feature_exprs: inlining it would
    md5 every token once per feature column — ADVICE r8 #1).
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    if features == "hashed":
        staged = ensure_parallelism(docs).select(
            t.alias("_t"), hashed_bucket_array(t).alias("_bs")
        )
        tt = F.col("_t")
        xs = hashed_feature_exprs(tt, bs_sql="_bs")
        return staged.select(
            *(x.alias(f"x{j}") for j, x in enumerate(xs)),
            heuristic_quality_label(tt).alias("y"),
        )
    xs = quality_feature_exprs(t)
    return ensure_parallelism(docs).select(
        *(x.alias(f"x{j}") for j, x in enumerate(xs)),
        heuristic_quality_label(t).alias("y"),
    )


def _driver_gd_matrix(head, d: int):
    """Validate the probed feature frame for the driver GD venue; returns
    (X, Y) float64 arrays or ``None`` when any precondition the
    bit-parity and int64-overflow analysis rests on fails (non-finite
    features, features outside [0, 1], labels outside {0, 1}, too many
    rows for exact int64 sums) — the distributed venue then defines the
    semantics, exactly like the malformed-row fallback of
    kmeans_train_portable."""
    import numpy as np

    try:
        X = head[[f"x{j}" for j in range(d)]].to_numpy(dtype=np.float64)
        Y = head["y"].to_numpy(dtype=np.float64)
    except (KeyError, TypeError, ValueError):
        return None
    if not (np.isfinite(X).all() and np.isfinite(Y).all()):
        return None
    # |per-row gradient| <= NANO needs x in [0,1] and |resid| < 1 (labels
    # in {0,1}); with the row bound, |sum| < 2^62 — int64-safe
    if not venue.fits_int64_sum(len(X), NANO):
        return None
    if len(X) and not (
        (X >= 0.0).all() and (X <= 1.0).all() and np.isin(Y, (0.0, 1.0)).all()
    ):
        return None
    return X, Y


def _driver_gd_loop(
    X, Y, *, iterations: int, lr_num: int, lr_den: int
) -> list[int]:
    """The driver venue of :func:`train_linear_scorer`: the identical GD
    loop over an in-memory float64 feature matrix. Bit-parity with both
    distributed gradient venues holds term by term:

    - z is the zero-seeded left fold of w_j * x_j in float64 — the array
      venue's ``aggregate`` fold literally; the wide venue omits the 0.0
      seed, but its first term w_0 * x_0 multiplies the bias x_0 = 1.0,
      which can never produce -0.0, and ``0.0 + a == a`` bitwise for every
      other double, so the seeded and unseeded chains are bit-equal (the
      same analysis as the array venue's docstring; the pure-Python replay
      tests already pin the zero-seeded form against both venues);
    - fast_sigmoid and the per-row quantization
      ``floor((resid * x_j) * 1e9 + 0.5)`` are the same exactly-rounded
      IEEE op sequence, elementwise;
    - gradient sums are int64 over exact integers (order-independent;
      |sum| <= rows * NANO < 2**62, checked by
      :func:`venue.fits_int64_sum` before this venue is taken), and the
      weight update is the shared trunc_div.

    Pinned venue-vs-venue at d=5 and d=64 in tests/test_llmops_algos.py,
    against the pure-Python replays, and end-to-end by the eight
    classifier-family DuckDB oracles."""
    import numpy as np

    n_rows, d = X.shape
    w = [0] * d
    if n_rows == 0:
        return w
    nano_f = np.float64(NANO)
    for _ in range(iterations):
        z = np.zeros(n_rows, dtype=np.float64)
        for j in range(d):
            z = z + np.float64(float(w[j]) / NANO) * X[:, j]
        resid = (
            np.float64(0.5) + z / (np.float64(2.0) * (np.float64(1.0) + np.abs(z)))
        ) - Y
        w = [
            w[j]
            - trunc_div(
                lr_num
                * int(
                    np.floor((resid * X[:, j]) * nano_f + np.float64(0.5))
                    .astype(np.int64)
                    .sum()
                ),
                lr_den * n_rows,
            )
            for j in range(d)
        ]
    return w


def train_linear_scorer(
    docs: DataFrame,
    text_col: str = "text",
    *,
    iterations: int = 12,
    lr_num: int = 16,
    lr_den: int = 1,
    features: str = "quality",
) -> tuple[list[int], DataFrame]:
    """Gradient-descent training of the linear quality scorer; returns
    (weights in integer nanos, the materialized feature frame for reuse).
    The loop is d-agnostic (d is read off the feature frame), so
    ``features="hashed"`` trains the d=64 hashed-unigram geometry with
    the identical one-aggregate-per-round shape — only the aggregate ROW
    widens (d gradient sums), never the shuffle row count.

    Per iteration: ONE aggregate over the corpus producing d quantized
    gradient sums (map-side combined; the exchange carries one d-long row
    per input partition at any scale), collected as a bounded driver
    statistic; the update runs in Python integers. The weights enter the
    next round's plan as repr-exact double literals, so each round's
    per-row math is bit-identical to the SQL oracle's.
    """
    feats = featurize(docs, text_col, features=features)
    d = len(feats.columns) - 1  # x0..x{d-1} plus the label column y
    # Driver venue: up to venue.DRIVER_CELLS // (d + 1) rows whose features
    # are finite and in [0, 1] with {0, 1} labels (_driver_gd_matrix)
    head = venue.driver_rows(
        feats, venue.DRIVER_CELLS // (d + 1), "train_linear_scorer"
    )
    m = _driver_gd_matrix(head, d) if head is not None else None
    if m is not None:
        w = _driver_gd_loop(
            m[0], m[1], iterations=iterations, lr_num=lr_num, lr_den=lr_den
        )
        # plain cache (not localCheckpoint): no GD rounds re-analyze the
        # lineage in this venue, so the checkpoint's re-analysis win is
        # moot and the cache keeps fault tolerance for the downstream
        # consumers (evaluate_scorer/calibration — lazily materialized
        # only if actually scanned)
        return w, caches.persist(feats)
    # localCheckpoint instead of a cache — same single materialization
    # and storage class (MEMORY_AND_DISK), but the GD rounds then plan
    # against a LogicalRDD leaf instead of re-analyzing the full featurize
    # lineage (59 filter-HOF trees at d=64) once per round — measured
    # ~2.2x on the 12-round loop at sf0.1 (the bpe_train/pagerank
    # lineage-cut doctrine applied to the trainer). Trade-off, as there:
    # the materialized blocks are not fault-tolerant (executor loss fails
    # the job instead of recomputing) and DataFrame.unpersist() on the
    # handle is a no-op — blocks free when the frame is GC'd.
    feats = feats.localCheckpoint(eager=True)
    n_rows = feats.count()
    w = [0] * d
    if n_rows == 0:
        # the weight update divides by n_rows; zero rows = zero gradient
        # signal, so the zero-initialized weights ARE the fixpoint
        return w, feats
    # GRADIENT VENUE PICK (round 8, the j4 width-pick precedent) — both
    # venues produce BIT-IDENTICAL gradient sums (pinned by a
    # wide-vs-array parity measurement on random weight vectors and the
    # pure-Python replays); they differ only in where the constant cost
    # sits, and the crossover is the feature width d:
    # - SMALL d (<= _WIDE_AGG_MAX_D): d codegen'd sum columns over the
    #   staged residual projection. Whole-stage codegen makes the
    #   per-row work cheapest (the term that dominates at scale — the
    #   r8 sf1 gate measured the array venue 1.8x slower at d=5 on 10x
    #   rows because interpreted HOF eval taxes every row), at the price
    #   of re-compiling O(d) aggregate expressions each iteration (the
    #   round's weight literals inline into the generated source).
    # - WIDE d: per-row gradient ARRAY -> posexplode -> d-key partial
    #   aggregate. THREE expressions per iteration regardless of d
    #   (measured 2.2s -> 0.4s per iteration at d=64; at production
    #   bucket counts the wide-agg plan would be unplannable), at the
    #   price of interpreted HOF per-row eval. Scale shape is identical
    #   either way: the hash aggregate partial-combines to d cells per
    #   partition before the exchange.
    xarr = F.array(*(F.col(f"x{j}") for j in range(d)))
    for _ in range(iterations):
        # z folds left-to-right over (w_j * x_j) — the oracle writes the
        # same left-associated chain, and multiplication/addition are
        # each exactly-rounded IEEE. The wide venue writes the chain
        # out; the array venue folds it — the only representational
        # difference is the fold's 0.0 seed, which can flip a -0.0 into
        # +0.0, and z only feeds fast_sigmoid where sigmoid(+-0.0) = 0.5
        # exactly, so no divergence can reach the gradients.
        # gradient sums widen to DECIMAL(38,0) in both venues: per-row
        # quantized gradients are exact integers bounded by ±NANO
        # (|resid| <= 1, every feature in [0,1]), so a LONG sum would
        # overflow ANSI at ~9.2e9 rows — inside the 100 TB design point
        # (~1e10-1e11 docs). Decimal sums of exact integers stay exact
        # and map-side combinable; the update runs in unbounded Python
        # ints.
        if d <= _WIDE_AGG_MAX_D:
            z = F.lit(float(w[0]) / NANO) * F.col("x0")
            for j in range(1, d):
                z = z + F.lit(float(w[j]) / NANO) * F.col(f"x{j}")
            resid_frame = feats.select(
                *(F.col(f"x{j}") for j in range(d)),
                (fast_sigmoid(z) - F.col("y")).alias("_resid"),
            )
            row = resid_frame.select(
                *(
                    F.sum(
                        F.floor(
                            F.col("_resid") * F.col(f"x{j}") * F.lit(float(NANO))
                            + F.lit(0.5)
                        ).cast("decimal(38,0)")
                    ).alias(f"g{j}")
                    for j in range(d)
                )
            ).collect()[0]
            grads = [int(row[f"g{j}"]) for j in range(d)]
        else:
            warr = F.lit([float(w[j]) / NANO for j in range(d)])
            z = F.aggregate(
                F.zip_with(warr, xarr, lambda wv, xv: wv * xv),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            # _resid is STAGED in the projection so the transform lambda
            # does O(1) work per element (referencing the sigmoid fold
            # inside the lambda would re-evaluate it d times per row)
            staged = feats.select(
                xarr.alias("_x"),
                (fast_sigmoid(z) - F.col("y")).alias("_resid"),
            )
            garr = F.transform(
                F.col("_x"),
                lambda x: F.floor(
                    F.col("_resid") * x * F.lit(float(NANO)) + F.lit(0.5)
                ).cast("long"),
            )
            rows = (
                staged.select(F.posexplode(garr).alias("_j", "_g"))
                .groupBy("_j")
                .agg(F.sum(F.col("_g").cast("decimal(38,0)")).alias("_gs"))
                .collect()
            )
            grads = [0] * d
            for r in rows:
                grads[r["_j"]] = int(r["_gs"])
        # TRUNCATING division — matches DuckDB's integer // (the oracle
        # widens to HUGEINT for the lr_num * G product for the same
        # >5.8e8-row reason)
        w = [
            w[j] - trunc_div(lr_num * grads[j], lr_den * n_rows)
            for j in range(d)
        ]
    return w, feats


def _z_from(cols: list[Column], weights_nano: list[int]) -> Column:
    z = F.lit(float(weights_nano[0]) / NANO) * cols[0]
    for j in range(1, len(cols)):
        z = z + F.lit(float(weights_nano[j]) / NANO) * cols[j]
    return z


def hashed_score_expr(
    t: Column, weights_nano: list[int], *, salt: str = HASHED_SALT
) -> Column:
    """Corpus-scale APPLY form of the d = 5 + n_buckets hashed scorer: the
    fast-sigmoid score as ONE expression suitable for a filter predicate
    (the curation classifier gate) or a projection column.

    The bucket contribution is folded PER TOKEN as an integer-nano sum —
    sum over tokens of w[bucket(tok)] — instead of materializing the 59
    per-bucket count features: O(tokens) work and a SINGLE reference to
    the md5 bucket array, so the expression stays cheap even where
    staging a column is impossible (inside a filter; and no optimizer
    rewrite can re-expand one reference into d). Integer summands make
    the fold order-independent, so the identical value replays in SQL as
    a list sum; the remaining double math is the d=5 head chain + one
    division, every step exactly-rounded IEEE.

    NOTE the bucket-term SUMMATION ORDER differs from the per-feature
    chain the trainer/evaluator use (sum_j w_j * (count_j / n) vs
    (sum_tok w[bucket]) / n): the two are equal in exact arithmetic but
    not bit-equal in doubles. This fold form IS the canonical apply-side
    definition — score_with_weights(features="hashed") and the curation
    gate both use it, so they agree bit-exactly with each other and with
    the DuckDB replay; tests pin both.

    The whole expression is let-bound over ONE tokens() split
    (text.let1): interpreted HOF trees get no codegen CSE, so the naive
    form re-splits the text once per stopword/count reference (~4 extra
    token passes per row in curate's heaviest narrow stage — the same
    pitfall the fused lang gate exists for). Every count below derives
    from the bound token array; the per-row cost is one split, one md5
    pass, two stopword filters, one regex."""
    d = len(weights_nano)
    if d <= 5:
        raise ValueError(
            f"hashed geometry needs d > 5 (5 quality ratios + buckets); "
            f"got d={d} — use score_with_weights for the d=5 scorer"
        )
    n_buckets = d - 5
    warr = F.array(*(F.lit(int(wj)).cast("long") for wj in weights_nano[5:]))

    def body(toks: Column) -> Column:
        # the d=5 head, value-identical to quality_feature_exprs(t) but
        # with every token-derived count built from the BOUND array
        n = F.greatest(F.size(toks), F.lit(1)).cast("double")
        chars = F.greatest(F.length(t), F.lit(1)).cast("double")
        punct = F.length(F.regexp_replace(t, r"[a-z0-9 ]", "")).cast("double")
        hits = {
            lang: F.size(
                F.filter(toks, lambda x: x.isin(*text.STOPWORDS[lang]))
            ).cast("double")
            for lang in ("en", "es")
        }
        head = [
            F.lit(1.0),
            hits["en"] / n,
            hits["es"] / n,
            punct / chars,
            F.least(n, F.lit(100.0)) / F.lit(100.0),
        ]
        bs = F.transform(toks, lambda tok: _bucket_of(tok, n_buckets, salt))
        bucket_nanos = F.aggregate(
            bs,
            F.lit(0).cast("long"),
            # bucket ids are BIGINT (md5 hash pmod); element_at wants an
            # INT index, and buckets are < 2^31 by construction
            lambda acc, b: acc + F.element_at(warr, (b + F.lit(1)).cast("int")),
        )
        z = _z_from(head, weights_nano[:5]) + (
            bucket_nanos.cast("double") / F.lit(float(NANO))
        ) / n
        return fast_sigmoid(z)

    return text.let1(text.tokens(t), body)


def score_with_weights(
    docs: DataFrame,
    weights_nano: list[int],
    text_col: str = "text",
    *,
    features: str = "quality",
) -> DataFrame:
    """Apply trained weights to RAW documents: one narrow pass, weights as
    literals. Returns all input columns + score, predicted, y (RESERVED
    output names — input columns with those names are dropped first, or
    the select would emit ambiguous duplicates downstream).
    ``features="hashed"`` applies a d = 5 + n_buckets hashed-geometry
    weight vector via :func:`hashed_score_expr` (the fold form — the
    same expression the curation classifier gate filters on, so the two
    agree bit-exactly). For post-training evaluation prefer
    :func:`evaluate_scorer` on the cached feature frame — this form
    re-tokenizes from the raw text."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    if features == "hashed":
        score = hashed_score_expr(t, weights_nano)
    else:
        xs = quality_feature_exprs(t)
        if len(weights_nano) != len(xs):
            # d=64 hashed weights into the d=5 scorer would silently use
            # the first 5 — a geometry mismatch must fail loudly
            raise ValueError(
                f"weight vector has d={len(weights_nano)} but the quality "
                f"feature set is d={len(xs)}; pass features='hashed' for "
                "hashed-geometry weights"
            )
        score = fast_sigmoid(_z_from(xs, weights_nano))
    keep = [c for c in docs.columns if c not in ("score", "predicted", "y")]
    return docs.select(
        *keep,
        score.alias("score"),
        (score >= 0.5).cast("int").alias("predicted"),
        heuristic_quality_label(t).alias("y"),
    )


def linear_score_expr(cols: list[Column], weights_nano: list[int]) -> Column:
    """fast_sigmoid of the left-associated weighted chain over TRAINED
    feature-frame columns — the scoring expression evaluate_scorer and
    the calibration report share (single source, so the two can never
    disagree on a threshold or a summation order)."""
    return fast_sigmoid(_z_from(cols, weights_nano))


def evaluate_scorer(feats: DataFrame, weights_nano: list[int]) -> DataFrame:
    """Confusion matrix + accuracy from the TRAINED feature frame — the
    frame train_linear_scorer already cached, so evaluation costs one
    cache scan, not a second tokenize/regex pass over the corpus (at the
    100 TB design point the re-scan would double the query)."""
    d_frame = len([c for c in feats.columns if c != "y"])
    if len(weights_nano) != d_frame:
        # d=5 weights over a d=64 frame would silently score on the
        # first 5 features; a geometry mismatch must fail loudly
        raise ValueError(
            f"weight vector has d={len(weights_nano)} but the feature "
            f"frame is d={d_frame}"
        )
    cols = [F.col(f"x{j}") for j in range(len(weights_nano))]
    p = (linear_score_expr(cols, weights_nano) >= 0.5).cast("int")
    y = F.col("y")
    # coalesce: SUM over an EMPTY frame is NULL in both engines, but the
    # empty-eval-set degenerate should report a 0-count confusion matrix
    # (mirrored by coalesce in the registered oracles) — the n=0 parity
    # class the training-side greatest/coalesce guard closes
    return feats.agg(
        *(
            F.coalesce(F.sum(expr), F.lit(0)).alias(name)
            for name, expr in (
                ("tp", p * y),
                ("fp", p * (1 - y)),
                ("fn", (1 - p) * y),
                ("tn", (1 - p) * (1 - y)),
            )
        )
    )

"""Document deduplication at scale: exact, MinHash-LSH, SimHash, n-gram
Jaccard set-similarity join.

Design for 100 TB (the whole point of these algorithms):
- NEVER all-pairs. Every near-dup path generates candidates through a
  bucket shuffle (LSH band, SimHash chunk, shared shingle) whose output is
  proportional to actual collisions, then verifies only candidates.
- Signatures are computed with JVM higher-order functions over token/shingle
  hash arrays — one pass per document, no Python.
- Hash arithmetic stays within 62 bits (31-bit hash values × 31-bit
  coefficients) so it never overflows under the driver's ANSI session.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ecommerce_etl_pipeline_spark.operators import caches
from ecommerce_etl_pipeline_spark.operators.parallelism import ensure_parallelism

MERSENNE_31 = 2147483647  # 2^31 - 1, prime


def shingles(tokens_col: Column, k: int = 3) -> Column:
    """Word k-shingles of a token array (short docs fall back to the
    whole-document shingle).

    CONTRACT: token-array ELEMENTS must be non-null (true of every
    split()-derived array, i.e. every in-repo caller). The zip_with chain
    concatenates with ``concat``, which nulls out a shingle containing a
    NULL token — where the previous concat_ws form silently skipped the
    null token. Downstream ``explode_nonnull`` then drops such shingles.

    Built as a chain of k-1 ``zip_with`` concats over k shifted slices —
    NOT ``transform(sequence, i -> concat_ws(slice(tokens, i+1, k)))``:
    in that form ``tokens_col`` is a FREE variable inside the lambda, and
    HOF free variables re-evaluate per ELEMENT (the winnow_fingerprints
    pitfall), so a split()-derived token array was being re-split once per
    shingle position. The slice arguments here sit outside every lambda
    (evaluated once per row); measured 3.9x on the shingle pass at sf0.1.
    """
    n = F.size(tokens_col)
    m = n - (k - 1)  # shingle count when n >= k
    acc = F.slice(tokens_col, k, m)
    for j in range(k - 1, 0, -1):
        acc = F.zip_with(
            F.slice(tokens_col, j, m),
            acc,
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(n >= k, acc).otherwise(F.array(F.concat_ws(" ", tokens_col)))


def shingle_hashes(text: Column, k: int = 3, *, portable: bool = False) -> Column:
    """Distinct 31-bit shingle hashes for a document.

    ``portable=False`` (scale default) hashes with ``xxhash64`` — the
    cheapest JVM hash. ``portable=True`` hashes with the md5-uint32 trick
    (first 8 hex chars as an integer, the splits.hash_uint32 doctrine) so
    the EXACT same hash values reproduce in DuckDB and the whole
    MinHash-LSH pipeline becomes oracle-checkable.
    """
    sh = shingles(F.split(text, " "), k)
    if portable:
        hash_one = lambda s: F.pmod(  # noqa: E731
            F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint"),
            F.lit(MERSENNE_31),
        )
    else:
        hash_one = lambda s: F.pmod(F.xxhash64(s), F.lit(MERSENNE_31))  # noqa: E731
    return F.array_distinct(F.transform(sh, hash_one))


def shingle_strings(text: Column, k: int = 3) -> Column:
    """Distinct shingle STRINGS (no hashing) — exact-oracle variant of
    :func:`shingle_hashes`: reproducible in any SQL engine, so Jaccard over
    these is DuckDB-checkable. Hashes stay the scale path (fixed-width
    ints shuffle smaller than strings)."""
    return F.array_distinct(shingles(F.split(text, " "), k))


#: Crossover for the MinHash signature strategy, in Catalyst plan-size
#: bytes of the input (a FREE statistic — no job): below it the per-row
#: interpreted HOF fold wins (no exchange, low fixed cost — ~1.0s vs
#: ~1.8s at sf0.1); above it the explode + 64-codegen'd-min aggregate
#: wins and keeps winning by orders of magnitude (3s vs 86s at 10x
#: sf0.1 — interpreted per-element cost is the scale killer). Both
#: produce bit-identical signatures (parity-pinned), so the pick can
#: never change a result — the join-strategy doctrine applied to an
#: expression venue.
SIG_AGG_MIN_PLAN_BYTES = 2 * 1024 * 1024


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for a frame's optimized plan — the same
    statistic join strategy selection reads. Unknown => assume big (the
    scale-safe default)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001
        return 1 << 62


def explode_nonnull(df: DataFrame, arr: Column, alias: str, *keep) -> DataFrame:
    """Explode a COMPUTED array without re-computing it: plain ``explode``
    triggers InferFiltersFromGenerate, which copies the entire array
    expression into a ``size(expr) > 0 AND expr IS NOT NULL`` filter, and
    predicate pushdown then runs that copy below the repartition — the
    per-row-heaviest pass (shingling, hashing) executes twice, once on the
    unsplit input (measured 2.2x on the exact-Jaccard join at sf0.1).
    ``explode_outer`` infers nothing; the post-explode null check costs one
    comparison per row and drops exactly the rows ``explode`` would have.

    Only for arrays whose ELEMENTS are never null (all shingle/token
    arrays here): a null element would also be dropped, where plain
    explode keeps it."""
    return df.select(*keep, F.explode_outer(arr).alias(alias)).filter(
        F.col(alias).isNotNull()
    )


def _minhash_coeffs(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE_31), rng.randrange(0, MERSENNE_31))
        for _ in range(num_hashes)
    ]


def minhash_signature(hashes_col: Column, num_hashes: int = 64, seed: int = 42) -> Column:
    """MinHash signature: for each (a, b), min over pmod(a*h + b, P).

    Single-fold form: ONE aggregate pass over the shingle hashes with a
    num_hashes-wide running-min accumulator (zip_with against the literal
    coefficient array) — measured 3x faster than per-permutation
    transform+array_min, which materializes num_hashes intermediate arrays
    per document. a, h < 2^31 so a*h < 2^62 — safe in a long under ANSI.
    """
    ab = "array(" + ",".join(
        f"named_struct('a',{a}L,'b',{b}L)" for a, b in _minhash_coeffs(num_hashes, seed)
    ) + ")"
    hashes_col = hashes_col if isinstance(hashes_col, Column) else F.col(hashes_col)
    init = f"array_repeat(CAST({MERSENNE_31} AS BIGINT), {num_hashes})"
    return F.aggregate(
        hashes_col,
        F.expr(init),
        lambda acc, h: F.zip_with(
            acc,
            F.expr(ab),
            lambda m, c: F.least(m, F.pmod(h * c["a"] + c["b"], F.lit(MERSENNE_31))),
        ),
    )


def minhash_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """LSH banding: docs sharing any band of the MinHash signature become a
    candidate pair, then exact shingle-set Jaccard verifies each candidate.

    Returns (doc1, doc2, jaccard) for all candidates, doc1 < doc2. The band
    shuffle is the only wide stage; its size tracks true duplicate density.

    ``portable=True`` swaps both hash sites (shingle hash, band key) to
    md5-based forms that replay bit-for-bit in DuckDB — with the (a, b)
    coefficients rendered as SQL literals, the ENTIRE banding + verify
    pipeline is then oracle-checkable (the sim_lsh_recall
    planes-as-literals doctrine applied to MinHash). Same plan shape
    either way; md5 costs slightly more per shingle than xxhash64, so the
    non-portable form stays the scale default.
    """
    rows = num_hashes // bands
    docs = ensure_parallelism(docs)
    hashes_df = docs.select(
        F.col(id_col).alias("doc_id"),
        shingle_hashes(F.col(text_col), shingle_k, portable=portable).alias("hashes"),
    )

    # The shingle-hash arrays feed THREE plan consumers (the signature fold
    # plus both verify-join sides). With the xxhash64 scale default they are
    # deliberately NOT cached: materializing wide array rows into the
    # memory store breaks whole-stage codegen fusion and pays per-row array
    # serialization — measured 2.5x SLOWER than recomputing the narrow
    # shingle pass per consumer (same result as caching the jaccard join's
    # shingle sets; see SCALING.md "Caching is NOT free"). That tradeoff
    # FLIPS when the per-shingle hash is md5 (portable mode): recomputing
    # then means three md5 passes over every shingle, and caching the
    # arrays once measured ~15% faster end-to-end at sf0.1 — so the cache
    # is conditional on the hash cost, like a join strategy is on size.
    if portable:
        hashes_df = caches.persist(hashes_df)

    # Signature venue is STATISTICS-DRIVEN (SIG_AGG_MIN_PLAN_BYTES):
    # small corpora keep the per-row HOF fold (no exchange, low fixed
    # cost); at scale the signature computes by explode + groupBy with
    # num_hashes codegen'd min() aggregates — HOF lambdas run
    # interpreted, and the fold's num_hashes-wide accumulator step per
    # shingle measured ~60-85s on a 3M-posting corpus where the
    # aggregate form runs in ~2s. min() is duplicate-insensitive, so no
    # array_distinct is needed before exploding, and map-side partial
    # aggregation collapses each doc's postings before the exchange —
    # the shuffle carries ONE 64-int row per document per input
    # partition, i.e. it is doc-count-sized at any corpus scale. Both
    # venues are bit-identical (same (a*h+b) mod P mins; parity-pinned
    # in tests/test_llmops_algos.py).
    if _plan_size_bytes(docs) >= SIG_AGG_MIN_PLAN_BYTES:
        inv_h = explode_nonnull(hashes_df, F.col("hashes"), "_h", "doc_id")
        coeffs = _minhash_coeffs(num_hashes, seed)
        mins = [
            F.min(
                F.pmod(F.col("_h") * F.lit(a) + F.lit(b), F.lit(MERSENNE_31))
            ).alias(f"_m{i}")
            for i, (a, b) in enumerate(coeffs)
        ]
        sigs = (
            inv_h.groupBy("doc_id")
            .agg(*mins)
            .select(
                "doc_id",
                F.array(*[f"_m{i}" for i in range(num_hashes)]).alias("sig"),
            )
        )
    else:
        sigs = hashes_df.select(
            "doc_id", minhash_signature(F.col("hashes"), num_hashes, seed).alias("sig")
        )
    # Band key: xxhash64 (8-byte shuffle key) by default; md5 of the same
    # comma-joined slice when portable (string_agg ORDER BY replays it).
    band_key = (
        (lambda s: F.md5(s)) if portable else (lambda s: F.xxhash64(s))
    )
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    band_key(F.concat_ws(",", F.slice("sig", b * rows + 1, rows))).alias(
                        "band_hash"
                    ),
                ),
            )
        ).alias("bh"),
    ).select("doc_id", "bh.band", "bh.band_hash")

    # banded is read by both join sides; caching stops the signature
    # aggregate (and its posting explode) from running twice.
    banded = caches.persist(banded)
    # corpus-sized self-join: unhinted — banded is CACHED, so the optimizer
    # sees its exact materialized size and broadcasts only while the band
    # table genuinely fits, flipping to a shuffle join as the corpus grows
    # (see jaccard_similarity_join's JOIN STRATEGY note)
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc1"), F.col("r.doc_id").alias("doc2"))
        .dropDuplicates(["doc1", "doc2"])
    )

    # Verify only the candidates: join the hash sets back per side (the
    # candidate set is duplicate-density-sized, not corpus-sized). The
    # hash-table sides are corpus-sized array rows; unhinted for the same
    # stats-honesty reason as the band join — at scale these become shuffle
    # joins whose exchanges carry the candidate set, not the corpus.
    h1 = hashes_df.select(
        F.col("doc_id").alias("doc1"), F.col("hashes").alias("h1")
    )
    h2 = hashes_df.select(
        F.col("doc_id").alias("doc2"), F.col("hashes").alias("h2")
    )
    verified = cand.join(h1, "doc1").join(h2, "doc2")
    inter = F.size(F.array_intersect("h1", "h2")).cast("double")
    union = (F.size("h1") + F.size("h2") - inter).cast("double")
    return verified.select("doc1", "doc2", (inter / union).alias("jaccard"))


def winnow_overlap_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_shared: int = 2,
    max_df: int = 20,
) -> DataFrame:
    """Partial-overlap pairs via winnowed rolling-hash fingerprints.

    Detects CONTAINMENT (quotation, boilerplate, copied passages) that
    whole-document Jaccard misses: any shared substring of length
    >= WINNOW_K + WINNOW_W - 1 chars is guaranteed a shared fingerprint.
    Returns (doc1, doc2, shared_fps, overlap) where overlap = shared /
    |smaller doc's fingerprint set| (containment score).

    Scale design: same inverted-index MapReduce shape as
    :func:`jaccard_similarity_join`, but over the winnowed minima (~2/(w+1)
    of the k-gram count), so the index is ~3x smaller than a char-shingle
    index. ``max_df`` drops fingerprints appearing in more than that many
    docs BEFORE the self-join — boilerplate fingerprints are the hot keys
    whose postings lists square in the pair expansion; pruning them is the
    standard stopword-fingerprint skew guard and caps any posting list's
    pair fan-out at max_df^2. The doc-frequency pass shuffles on fp, the
    same key as the pair join, so the partitioning is reused.
    """
    from ecommerce_etl_pipeline_spark.llmops import text as text_mod

    k, w = text_mod.WINNOW_K, text_mod.WINNOW_W
    docs = ensure_parallelism(docs)
    # two-select shape: materialize the k-gram hash array before windowing
    # (free variables in HOF lambdas re-evaluate per element — see
    # text.winnow_fingerprints)
    kg = docs.filter(F.length(text_col) >= k + w - 1).select(
        F.col(id_col).alias("doc_id"),
        text_mod.kgram_rolling_hashes(F.col(text_col), k).alias("kg"),
    )
    # cache() is load-bearing, not a speed tweak: the next select needs BOTH
    # size(fps) and explode(fps). Generate extraction puts those in different
    # operators (Project vs Generate), each referencing fps once, so without a
    # materialization barrier Catalyst inlines the whole winnow HOF expression
    # into each — and the free-variable re-evaluation makes that O(n²·k) per
    # document (observed: 500 docs hang >9 min uncached vs 4 s cached).
    fps = caches.persist(
        kg.select("doc_id", text_mod.winnow_fingerprints(F.col("kg"), w).alias("fps"))
    )
    # feeds the doc-frequency pass and both self-join sides
    inv = caches.persist(
        fps.select("doc_id", F.size("fps").alias("n_fps"), F.explode("fps").alias("fp"))
    )
    rare = inv.groupBy("fp").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= max_df
    )
    # rare is fingerprint-vocabulary-sized (corpus-scaled): no join hint —
    # its size estimate derives from the scan, so the optimizer broadcasts
    # only while the vocabulary genuinely fits and flips to a shuffle join
    # (reusing the df-pass fp partitioning) as the corpus grows; see
    # jaccard_similarity_join for the full strategy note.
    kept = inv.join(rare.select("fp"), "fp")
    l, r = kept.alias("l"), kept.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.fp") == F.col("r.fp")) & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .groupBy(
            F.col("l.doc_id").alias("doc1"),
            F.col("r.doc_id").alias("doc2"),
            F.col("l.n_fps").alias("n1"),
            F.col("r.n_fps").alias("n2"),
        )
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )
    return pairs.select(
        "doc1",
        "doc2",
        "shared_fps",
        (F.col("shared_fps") / F.least("n1", "n2")).alias("overlap"),
    )


def cross_split_contamination(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    split_col: str = "source",
    *,
    threshold: float = 0.5,
    shingle_k: int = 3,
    hashed: bool = True,
) -> DataFrame:
    """Decontamination sweep: near-duplicate pairs that CROSS a split
    boundary (train/eval leakage, cross-source duplication). Same exact
    shingle-Jaccard inverted-index join as :func:`jaccard_similarity_join`,
    with the split inequality fused into the index self-join so same-split
    pairs — the overwhelming majority of candidates in a source-skewed
    corpus — are dropped before the intersection groupBy, not filtered
    after it. Returns (split1, split2, doc1, doc2, jaccard), doc1 < doc2.

    At 100 TB this is how eval-set contamination checks run: the eval side
    is tiny, but the index join stays symmetric so one pass covers every
    split pair; a dedicated two-corpus variant would broadcast the eval
    side's postings instead (swap when the eval corpus fits in memory).
    """
    docs = ensure_parallelism(docs)
    shingle_col = (
        shingle_hashes(F.col(text_col), shingle_k)
        if hashed
        else shingle_strings(F.col(text_col), shingle_k)
    )
    sets = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(split_col).alias("split"),
        shingle_col.alias("hashes"),
    ).withColumn("set_size", F.size("hashes"))
    inv = explode_nonnull(sets, F.col("hashes"), "h", "doc_id", "split", "set_size")
    # corpus-sized self-join: unhinted — see jaccard_similarity_join for
    # why size statistics pick the scale-correct strategy on their own
    l, r = inv.alias("l"), inv.alias("r")
    thr = F.lit(threshold)
    inter = (
        l.join(
            r,
            (F.col("l.h") == F.col("r.h"))
            & (F.col("l.doc_id") < F.col("r.doc_id"))
            & (F.col("l.split") != F.col("r.split"))
            & (thr * F.col("l.set_size") <= F.col("r.set_size"))
            & (thr * F.col("r.set_size") <= F.col("l.set_size")),
        )
        .groupBy(
            F.col("l.doc_id").alias("doc1"),
            F.col("r.doc_id").alias("doc2"),
            F.col("l.split").alias("split1"),
            F.col("r.split").alias("split2"),
            F.col("l.set_size").alias("n1"),
            F.col("r.set_size").alias("n2"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    jac = F.col("c") / (F.col("n1") + F.col("n2") - F.col("c"))
    return inter.filter(jac >= thr).select(
        "split1", "split2", "doc1", "doc2", jac.alias("jaccard")
    )


def contamination_against(
    train: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    threshold: float = 0.5,
    shingle_k: int = 3,
    hashed: bool = True,
) -> DataFrame:
    """Asymmetric decontamination: which TRAIN documents are shingle-Jaccard
    near-duplicates of ANY eval document. The production shape for eval-set
    leakage checks at 100 TB: the eval corpus is benchmark-sized (1e3-1e6
    docs), so its exploded postings BROADCAST — candidate generation is a
    broadcast hash join probed by the train postings stream, and the train
    corpus is never shuffled for candidates at all. The only wide stage is
    the per-pair intersection groupBy, sized by candidate count (near-zero
    for a clean corpus). Returns (train_id, eval_id, jaccard).

    Complement of :func:`cross_split_contamination` (symmetric, one corpus,
    all split pairs); this one is two corpora and one direction.
    """
    train = ensure_parallelism(train)

    def sets(df: DataFrame, out_id: str, n_col: str) -> DataFrame:
        shingle_col = (
            shingle_hashes(F.col(text_col), shingle_k)
            if hashed
            else shingle_strings(F.col(text_col), shingle_k)
        )
        return df.select(
            F.col(id_col).alias(out_id), shingle_col.alias("hashes")
        ).withColumn(n_col, F.size("hashes"))

    tinv = explode_nonnull(
        sets(train, "train_id", "n_t"), F.col("hashes"), "h", "train_id", "n_t"
    )
    einv = explode_nonnull(
        sets(eval_docs, "eval_id", "n_e"), F.col("hashes"), "h", "eval_id", "n_e"
    )
    thr = F.lit(threshold)
    inter = (
        tinv.join(
            F.broadcast(einv),
            (tinv.h == einv.h)
            # exact length pruning: J >= t forces t*max(n) <= min(n)
            & (thr * tinv.n_t <= einv.n_e)
            & (thr * einv.n_e <= tinv.n_t),
        )
        .groupBy("train_id", "eval_id", "n_t", "n_e")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    jac = F.col("c") / (F.col("n_t") + F.col("n_e") - F.col("c"))
    return inter.filter(jac >= thr).select("train_id", "eval_id", jac.alias("jaccard"))


def bloom_decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    shingle_k: int = 3,
    bits_per_key: int = 16,
) -> DataFrame:
    """N-gram overlap decontamination (the GPT-3/PaLM recipe: flag a train
    doc if it shares ANY k-token n-gram with the eval corpus), with a
    Bloom-bitmap prefilter so the train side pays near-zero shuffle on a
    clean corpus.

    Differs from :func:`contamination_against` (whole-doc Jaccard >=
    threshold) in being the stricter membership form benchmarks actually
    use: one verbatim overlapping n-gram is enough to flag.

    Scale shape: the eval n-gram set is benchmark-sized, so it compresses
    into a broadcast Bloom bitmap (``operators/bloom.py`` — a few KB..MB of
    longs); every train n-gram is membership-tested INSIDE the scan stage,
    so for a mostly-clean corpus ~all train rows die before any exchange.
    The exact verify join afterwards (against the broadcast eval n-gram
    set, same side :func:`contamination_against` broadcasts) removes the
    bounded false positives, so the Bloom stage changes bytes shuffled,
    never results — which is what makes this fully oracle-checkable.

    Returns (train_id, n_hit_ngrams): train docs sharing >=1 distinct
    k-token n-gram with any eval doc, with the count of distinct shared
    n-grams.
    """
    from ecommerce_etl_pipeline_spark.operators.bloom import (
        build_bloom_bitmap,
        might_contain,
    )

    train = ensure_parallelism(train)
    # cached: this eval-sized frame feeds THREE consumers (the sizing
    # count, the bitmap build, the exact-verify broadcast) — without the
    # cache each one re-runs the eval explode+distinct shuffle.
    ev_grams = caches.persist(
        explode_nonnull(eval_docs, shingle_strings(F.col(text_col), shingle_k), "g")
        .distinct()
    )
    # bounded build-side count (eval-corpus-scale aggregate, same class as
    # the j11 bloom sizing count) — sizes the bitmap to the real key count
    n_ev = ev_grams.count()
    words, num_bits = build_bloom_bitmap(
        ev_grams, "g", expected_items=max(n_ev, 1), bits_per_key=bits_per_key
    )
    # shingle_strings is per-doc distinct, so count(*) below counts
    # distinct shared n-grams without a count_distinct shuffle
    train_grams = explode_nonnull(
        train,
        shingle_strings(F.col(text_col), shingle_k),
        "g",
        F.col(id_col).alias("train_id"),
    ).filter(might_contain(words, num_bits, F.col("g")))
    return (
        train_grams.join(F.broadcast(ev_grams), "g", "semi")
        .groupBy("train_id")
        .agg(F.count(F.lit(1)).alias("n_hit_ngrams"))
    )


def source_overlap_matrix(
    docs: DataFrame,
    *,
    source_col: str = "source",
    text_col: str = "text",
    shingle_k: int = 3,
) -> DataFrame:
    """Corpus-level n-gram containment between every pair of sources — the
    mixture-design diagnostic run before weighting corpora into a training
    mix (two "different" dumps with high containment add duplication, not
    diversity; the corpus-level complement of the per-document
    :func:`cross_split_contamination`).

    For each source pair (s1 < s2): ``shared_ngrams`` = |distinct k-token
    n-grams in both|, ``containment`` = shared / min(|s1 grams|,
    |s2 grams|).

    Scale shape: one (source, gram) distinct aggregate (map-side
    combinable), then a gram-keyed inverted-index self-join whose fan-out
    is bounded by sources^2 per gram — never corpus^2 — and a per-source
    gram-count table that is |sources| rows (broadcast).
    """
    grams = explode_nonnull(
        ensure_parallelism(docs),
        shingle_strings(F.col(text_col), shingle_k),
        "g",
        F.col(source_col).alias("src"),
    ).distinct()
    sizes = grams.groupBy("src").agg(F.count(F.lit(1)).alias("n_grams"))
    l, r = grams.alias("l"), grams.alias("r")
    shared = (
        l.join(r, (F.col("l.g") == F.col("r.g")) & (F.col("l.src") < F.col("r.src")))
        .groupBy(F.col("l.src").alias("source1"), F.col("r.src").alias("source2"))
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
    )
    s1 = sizes.select(F.col("src").alias("source1"), F.col("n_grams").alias("n1"))
    s2 = sizes.select(F.col("src").alias("source2"), F.col("n_grams").alias("n2"))
    return (
        shared.join(F.broadcast(s1), "source1")
        .join(F.broadcast(s2), "source2")
        .select(
            "source1",
            "source2",
            "shared_ngrams",
            (
                F.col("shared_ngrams") / F.least(F.col("n1"), F.col("n2"))
            ).alias("containment"),
        )
    )


def incremental_dedup(
    index: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    threshold: float = 0.5,
    shingle_k: int = 3,
    hashed: bool = True,
) -> DataFrame:
    """Daily-ingestion dedup: classify each INCOMING document against an
    existing corpus index as ``exact_dup`` (identical content hash),
    ``near_dup`` (shingle-Jaccard >= threshold), or ``kept`` — with the
    lowest matching index id as ``match_id`` (exact wins over near).

    The 100 TB shape: the corpus index is petabyte-class but the daily
    batch is small, so the BATCH side broadcasts everywhere — the content-
    hash probe is a broadcast join against the index's hash projection, and
    near-dup candidates come from :func:`contamination_against` (batch
    postings broadcast, index postings streamed). The index is never
    re-shuffled; cost is one scan of the index per ingestion cycle, and
    with a persisted (hash, shingle-postings) index table it drops to an
    index-only probe.
    """
    b_ids = batch.select(F.col(id_col).alias("batch_id"), F.col(text_col).alias("_bt"))
    exact = (
        index.select(F.col(id_col).alias("index_id"), F.md5(F.col(text_col)).alias("h"))
        .join(F.broadcast(b_ids.select("batch_id", F.md5(F.col("_bt")).alias("h"))), "h")
        .groupBy("batch_id")
        .agg(F.min("index_id").alias("exact_match"))
    )
    near = (
        contamination_against(
            index, batch, id_col, text_col,
            threshold=threshold, shingle_k=shingle_k, hashed=hashed,
        )
        .groupBy(F.col("eval_id").alias("batch_id"))
        .agg(F.min("train_id").alias("near_match"))
    )
    status = (
        F.when(F.col("exact_match").isNotNull(), F.lit("exact_dup"))
        .when(F.col("near_match").isNotNull(), F.lit("near_dup"))
        .otherwise(F.lit("kept"))
    )
    # exact/near are post-aggregation (one row per matched batch doc, i.e.
    # bounded by the already-small batch) — broadcast the assembly joins
    return (
        b_ids.select("batch_id")
        .join(F.broadcast(exact), "batch_id", "left")
        .join(F.broadcast(near), "batch_id", "left")
        .select(
            F.col("batch_id").alias(id_col),
            status.alias("status"),
            F.coalesce("exact_match", "near_match").alias("match_id"),
        )
    )


def simhash_of_hashes(hashes_sql: str, bits: int = 64) -> Column:
    """SimHash over a precomputed token-hash array column: per bit position,
    sign of the sum of (+1/-1) votes from each hash; sign bits packed into a
    long. SQL-expression lambdas because shift amounts are lambda variables
    (the Python shiftleft/shiftright wrappers only take literal ints).
    Bit 63 is excluded so the packed value stays non-negative (no overflow
    under ANSI).

    Single-fold form (the minhash_signature doctrine): ONE traversal of
    the token-hash array carrying a ``bits``-wide vote accumulator —
    the previous per-bit ``transform`` ran 64 SEPARATE interpreted folds
    over the array (64 re-traversals per document). Vote sums are integer
    and therefore order-independent; the packed value is bit-identical.
    """
    votes = (
        f"aggregate({hashes_sql}, array_repeat(0, {bits}), "
        f"(acc, h) -> zip_with(acc, sequence(0, {bits - 1}), "
        f"(a, i) -> a + (CASE WHEN shiftright(h, i) & 1 = 1 THEN 1 ELSE -1 END)))"
    )
    # outer coalesce: a NULL hash array must still yield simhash 0 (all
    # votes tie negative), as the per-bit form did — the single fold
    # propagates NULL through aggregate/zip_with instead, and a NULL
    # simhash would silently drop the row from the chunk equi-join rather
    # than banding null-text docs together
    return F.expr(
        f"coalesce(aggregate(zip_with({votes}, sequence(0, {bits - 1}), "
        f"(v, i) -> CASE WHEN v > 0 AND i < 63 THEN shiftleft(CAST(1 AS BIGINT), i) "
        f"ELSE CAST(0 AS BIGINT) END), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc + x), CAST(0 AS BIGINT))"
    )


def simhash_near_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    max_hamming: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance.

    Multi-block pigeonhole banding (Manku, Jain & Sarma 2007, the
    production SimHash design): the 64-bit signature splits into
    ``max_hamming + 3`` blocks; a pair within hamming distance h differs
    in at most h blocks, so at least 3 blocks are INTACT — candidates
    join on every C(blocks, 3) combination of 3 block values (packed into
    one bigint key), then bit_count(xor) verifies. No all-pairs stage.

    Why 3-block keys and not single blocks: single-chunk banding (4 x 16
    bits) is complete too, but its 16-bit keys birthday-collide — random
    candidate pairs grow as corpus^2 / 2^16, measured 62x when the corpus
    grew 10x to 50k docs. Three-block keys are ~32 bits, pushing the
    quadratic term out by another 2^16: at 1M docs the expected random
    collisions are ~20 * 10^12 / 2^32 ≈ 5k — candidates track true
    near-dups, not corpus size. The cost is C(b,3) band rows per doc
    (20 at h=3, vs 4) — thin (doc_id, key) rows either way. Candidate
    GENERATION is complete under both schemes, so the verified output —
    and therefore the DuckDB oracle, which bands its own way and applies
    the same hamming filter — is identical.

    ``portable=True`` swaps the token hash from xxhash64 (64-bit, JVM-only)
    to the first 15 md5 hex chars as a 60-bit non-negative long — the
    md5-uint doctrine widened so the bit votes replay in DuckDB (60 bits
    keeps the value under 2^63 in every engine; positions 60-62 then vote
    all-negative on both sides, a deterministic no-op, and 63 is excluded
    by the packer anyway). Same plan shape; oracle-checkable.
    """
    import itertools

    if not 0 < max_hamming <= 6:
        raise ValueError(f"need 1 <= max_hamming <= 6, got {max_hamming}")
    docs = ensure_parallelism(docs)
    if portable:
        token_hash = lambda t: F.conv(  # noqa: E731
            F.substring(F.md5(t), 1, 15), 16, 10
        ).cast("bigint")
    else:
        token_hash = lambda t: F.xxhash64(t)  # noqa: E731
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(
            F.transform(F.split(F.col(text_col), " "), token_hash)
        ).alias("th"),
    ).select("doc_id", simhash_of_hashes("th").alias("sh"))
    # the (doc_id, sh) rows are THIN (16 bytes) but their lineage carries
    # the tokenize + 64-wide vote fold — cache so the self-join's two
    # sides share one fold pass instead of recomputing it per side (the
    # minhash banded-rows doctrine; cached size stats also keep the join
    # strategy choice honest, see minhash_candidate_pairs)
    sh = caches.persist(sh)
    # block layout: 64 bits over (max_hamming + 3) blocks, wider blocks
    # first; each 3-block combo packs (combo_id, b_i, b_j, b_k) into one
    # bigint with 16-bit fields (block width <= 16 since blocks >= 4;
    # combo_id < C(9,3) = 84 < 2^15, so the pack stays under 2^63)
    n_blocks = max_hamming + 3
    base_w, extra = divmod(64, n_blocks)
    widths = [base_w + (1 if i < extra else 0) for i in range(n_blocks)]
    offs = [sum(widths[:i]) for i in range(n_blocks)]
    blk = [
        f"(shiftright(sh, {offs[i]}) & {(1 << widths[i]) - 1})"
        for i in range(n_blocks)
    ]
    keys = [
        f"((({t}L * 65536 + {blk[i]}) * 65536 + {blk[j]}) * 65536 + {blk[k]})"
        for t, (i, j, k) in enumerate(itertools.combinations(range(n_blocks), 3))
    ]
    chunks = sh.select(
        "doc_id",
        "sh",
        F.explode(F.expr("array(" + ",".join(keys) + ")")).alias("bk"),
    )
    # corpus-sized self-join: unhinted — see jaccard_similarity_join for
    # why size statistics pick the scale-correct strategy on their own
    l, r = chunks.alias("l"), chunks.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.bk") == F.col("r.bk"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc1"),
            F.col("r.doc_id").alias("doc2"),
            F.col("l.sh").alias("sh1"),
            F.col("r.sh").alias("sh2"),
        )
        .dropDuplicates(["doc1", "doc2"])
    )
    hamming = F.expr("bit_count(sh1 ^ sh2)")
    return cand.select("doc1", "doc2", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def jaccard_similarity_join(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    threshold: float = 0.5,
    shingle_k: int = 3,
    hashed: bool = True,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram (shingle) Jaccard set-similarity join.

    MapReduce-style: explode distinct shingle hashes, join on shingle to
    count intersections (candidates = pairs sharing ≥1 shingle), then
    |A∩B| / (|A|+|B|-|A∩B|) ≥ threshold. Shingles (vs raw tokens) keep the
    inverted index selective, so the shuffle carries near-duplicate pairs,
    not the cross product.

    Candidate pruning is a LENGTH FILTER fused into the element self-join:
    jaccard >= t forces t*max(|A|,|B|) <= min(|A|,|B|), so size-mismatched
    pairs drop before the intersection groupBy — exact, zero extra passes.
    Intersections are counted map-reduce style from the index join itself
    (narrow (doc,doc) rows into a partial-agg groupBy), NOT by joining full
    arrays back per candidate: measured 4x faster than PPJoin-style
    prefix-index + array_intersect verification on this corpus, whose
    shingles are diverse (no hot tokens) and whose sets are short — there
    the verification shuffle of wide array rows dominates everything the
    prefix prunes. On a stopword-heavy corpus with hot shingles the
    prefix-filter variant wins instead; both are exact, so swapping the
    candidate generator never affects results.

    ``hashed=False`` shuffles raw shingle strings instead of 31-bit hashes:
    bit-identical to a SQL-engine oracle (no cross-engine hash function
    needed, no collision risk) at the cost of a wider exchange — the
    oracle-parity mode; ``hashed=True`` is the 100 TB mode.

    ``max_df`` bounds the index fan-out with LOWER-BOUND accounting:
    shingles whose document frequency exceeds the cap are dropped from
    the inverted index (so from candidate generation AND the intersection
    count) while set sizes stay FULL — the score becomes
    c_kept / (n1 + n2 - c_kept) <= true Jaccard, so every returned pair
    provably satisfies the true threshold (exact precision); pairs whose
    entire support is capped shingles are missed (bounded recall). The
    join fan-out drops from sum(df^2) to <= max_df * |postings| — LINEAR
    in corpus size, the property the uncapped exact join lacks. The df
    aggregate shuffles on the same key as the self-join, so its exchange
    is co-partitioned. Default None (exact, complete) because the cap is
    a corpus-shape decision: on the bounded-vocabulary synthetic corpus
    every df threshold between "no recall" and "no fan-out cut" is
    measured to be empty (sf1: cap 50 -> 13x fewer joined rows but 0/2560
    true pairs found; cap 100 -> 2557/2560 pairs but only a 5% cut — see
    SCALING.md), while on Zipf-shaped real corpora boilerplate is the hot
    tail and dup support is rare shingles, where a cap keeps recall. For
    df-skewed corpora prefer :func:`ppjoin_pairs` (exact AND bounded);
    for recall-complete scale-out prefer the banded MinHash path.
    """
    docs = ensure_parallelism(docs)
    shingle_col = (
        shingle_hashes(F.col(text_col), shingle_k)
        if hashed
        else shingle_strings(F.col(text_col), shingle_k)
    )
    sets = docs.select(
        F.col(id_col).alias("doc_id"),
        shingle_col.alias("hashes"),
    ).withColumn("set_size", F.size("hashes"))
    # explode_nonnull: a plain explode would re-run the whole shingle pass
    # as an inferred pushed-down filter — measured 2.2x on this join
    inv = explode_nonnull(sets, F.col("hashes"), "h", "doc_id", "set_size")
    if max_df is not None:
        # lower-bound accounting (see docstring): cap the INDEX, keep the
        # FULL set_size already carried on each row. The df aggregate and
        # the filtered join both key on h — co-partitioned with the
        # self-join below, no extra shuffle key enters the plan. ``inv``
        # is cached because it feeds BOTH the df aggregate and the capped
        # join back — uncached, the tokenize+shingle+explode lineage would
        # execute twice.
        inv = caches.persist(inv)
        dfc = inv.groupBy("h").agg(F.count(F.lit(1)).alias("_df"))
        inv = inv.join(dfc.filter(F.col("_df") <= max_df).select("h"), "h")
    # JOIN STRATEGY (all dedup self-joins): UNHINTED, on purpose. Both
    # sides are corpus-sized, and the scale-correct plan differs by scale:
    # at small corpus sizes a broadcast build genuinely fits and wins; at
    # 100 TB only a shuffle join survives. Catalyst's size estimate for
    # this side is scan-proportional (filters/explodes apply multiplicative
    # factors to the parquet scan size), so it crosses the broadcast
    # threshold exactly when the data does, and AQE re-checks against
    # MEASURED shuffle sizes at runtime — the optimizer flips to
    # SortMergeJoin with skew-split on its own. Pinning merge here forces
    # the 100 TB physical plan onto kB-sized local exchanges: measured +10-20%
    # on the sf0.1 headline with zero scale benefit. What we DO enforce
    # (tests/test_plans.py, scripts/audit_plans.py): no EXPLICIT
    # F.broadcast()/hint ever forces a corpus-scaled side — with
    # autoBroadcastJoinThreshold=-1 these plans contain no broadcast at
    # all, proving every broadcast that does appear is stats-driven and
    # therefore scale-honest.
    l, r = inv.alias("l"), inv.alias("r")
    thr = F.lit(threshold)
    inter = (
        l.join(
            r,
            (F.col("l.h") == F.col("r.h"))
            & (F.col("l.doc_id") < F.col("r.doc_id"))
            # length filter: t*|bigger| <= |smaller| is necessary for J >= t
            & (thr * F.col("l.set_size") <= F.col("r.set_size"))
            & (thr * F.col("r.set_size") <= F.col("l.set_size")),
        )
        .groupBy(
            F.col("l.doc_id").alias("doc1"),
            F.col("r.doc_id").alias("doc2"),
            F.col("l.set_size").alias("n1"),
            F.col("r.set_size").alias("n2"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    jac = F.col("c") / (F.col("n1") + F.col("n2") - F.col("c"))
    return inter.select("doc1", "doc2", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def ppjoin_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    threshold: float = 0.5,
    shingle_k: int = 3,
    hashed: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """The PPJoin candidate-generation stage, exposed separately so the
    standing Zipf gate (scripts/check_zipf.py) can count candidates — the
    operator's core scale claim is that this frame grows ~10x/decade on a
    Zipf corpus where the plain inverted index grows 55-68x, and a
    regression in the prefix/positional filters shows here as superlinear
    candidate growth BEFORE it shows as wall-clock.

    Returns ``(cand, ordered)``: distinct (doc1, doc2) candidate pairs
    surviving the prefix + length + positional filters, and the CACHED
    per-doc (df asc, shingle asc)-ordered shingle arrays the verification
    stage reuses (released by the caller's cache scope).
    """
    docs = ensure_parallelism(docs)
    t = float(threshold)
    shingle_col = (
        shingle_hashes(F.col(text_col), shingle_k)
        if hashed
        else shingle_strings(F.col(text_col), shingle_k)
    )
    sets = docs.select(F.col(id_col).alias("doc_id"), shingle_col.alias("hashes"))
    inv = explode_nonnull(sets, F.col("hashes"), "h", "doc_id")
    dfc = inv.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    # (df asc, shingle asc) canonical order, materialized once per doc;
    # sort_array canonicalizes collect_list's arbitrary arrival order, so
    # the operator is partitioning-deterministic
    ordered = caches.persist(
        inv.join(dfc, "h")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "h"))).alias("arr"))
        .withColumn("n", F.size("arr"))
        .withColumn("arr", F.transform("arr", lambda x: x["h"]))
    )
    # loaded before any join that reads it is planned: until the cache is
    # loaded AQE sizes it by the optimizer's estimate (about 20x under the
    # measured size at sf1), after by the measured size, so a cache still
    # loading inside the first query left each join's strategy to timing
    ordered.count()
    plen = (
        F.col("n")
        - F.ceil(F.lit(t) * F.col("n") - F.lit(1e-9)).cast("int")
        + 1
    )
    pre = ordered.select(
        "doc_id",
        "n",
        F.posexplode(F.slice("arr", F.lit(1), plen)).alias("pos", "h"),
    )
    l, r = pre.alias("l"), pre.alias("r")
    n1, n2 = F.col("l.n"), F.col("r.n")
    # overlap still reachable from a match at 0-based positions (pos1, pos2)
    ubound = 1 + F.least(n1 - F.col("l.pos") - 1, n2 - F.col("r.pos") - 1)
    cand = (
        l.join(
            r,
            (F.col("l.h") == F.col("r.h"))
            & (F.col("l.doc_id") < F.col("r.doc_id"))
            # length filter: t*|bigger| <= |smaller| is necessary for J >= t
            & (F.lit(t) * n1 <= n2 + F.lit(1e-9))
            & (F.lit(t) * n2 <= n1 + F.lit(1e-9))
            # positional filter: required overlap t/(1+t)*(n1+n2), cleared
            # of the division by comparing (1+t)*ubound >= t*(n1+n2)
            & (F.lit(1.0 + t) * ubound >= F.lit(t) * (n1 + n2) - F.lit(1e-9)),
        )
        .select(F.col("l.doc_id").alias("doc1"), F.col("r.doc_id").alias("doc2"))
        .dropDuplicates(["doc1", "doc2"])
    )
    return cand, ordered


def ppjoin_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    threshold: float = 0.5,
    shingle_k: int = 3,
    hashed: bool = True,
) -> DataFrame:
    """EXACT shingle-Jaccard join via the AllPairs/PPJoin prefix filter
    (Bayardo et al. 2007; Xiao et al. 2008) — same results as
    :func:`jaccard_similarity_join`, different candidate generator,
    built for df-SKEWED (Zipf) corpora.

    Canonical global shingle order = (document frequency asc, shingle
    asc). A pair with J >= t must share >= ceil(t/(1+t)*(n1+n2)) shingles,
    so each side must expose a common element within its first
    n - ceil(t*n) + 1 shingles in that order (the prefix-filter lemma):
    only PREFIXES enter the index self-join. Because the order puts RARE
    shingles first, hot (boilerplate) shingles mostly never enter the
    index — exactly the term that makes the plain inverted index
    quadratic on Zipf data. A per-match POSITIONAL filter tightens it:
    the overlap reachable from a match at positions (i, j) is at most
    1 + min(n1-i-1, n2-j-1); pairs whose best bound misses the required
    overlap drop inside the join condition. Candidates are then verified
    with one exact ``array_intersect`` pass per pair (candidate-sized,
    not corpus-sized).

    Float-boundary discipline: prefix lengths and the positional bound
    subtract a 1e-9 slack before ceil/compare, so representation error
    can only ADD candidates (the exact verify discards them), never drop
    a qualifying pair.

    Scale shape: df aggregate (map-side combinable) + df join, both keyed
    on the shingle — the same key as the prefix self-join; one shuffle on
    doc_id builds the (df, shingle)-sorted arrays, cached because the
    prefix explode and both verification sides consume them. Fan-out =
    sum over shingles of prefix-df^2, where prefix-df counts only docs
    holding the shingle among their rarest ~(1-t) fraction. Measured on
    the Zipf fixture vs the plain index join: see SCALING.md round-6.
    On the bounded-vocab synthetic corpus (uniform df — nothing is
    "rare") the plain join's map-reduce intersection counting wins
    instead; both are exact, so the pick never changes results.

    Reference parity: the reference engine has no set-similarity join at
    all (its src/ transform files are pandas row filters); this operator
    exists for the llmops dedup surface.
    """
    cand, ordered = ppjoin_candidates(
        docs, id_col, text_col,
        threshold=threshold, shingle_k=shingle_k, hashed=hashed,
    )
    return ppjoin_verify(cand, ordered, threshold=threshold)


def ppjoin_verify(
    cand: DataFrame, ordered: DataFrame, *, threshold: float = 0.5
) -> DataFrame:
    """Exact verification of PPJoin candidates: one ``array_intersect``
    per candidate pair against the cached ordered-shingle arrays
    (candidate-sized work, not corpus-sized). Split out so the standing
    Zipf gate verifies from the SAME candidate frame it counts instead
    of recomputing the generation stage."""
    h1 = ordered.select(
        F.col("doc_id").alias("doc1"), F.col("arr").alias("h1"), F.col("n").alias("n1")
    )
    h2 = ordered.select(
        F.col("doc_id").alias("doc2"), F.col("arr").alias("h2"), F.col("n").alias("n2")
    )
    verified = cand.join(h1, "doc1").join(h2, "doc2")
    inter = F.size(F.array_intersect("h1", "h2")).cast("double")
    jac = inter / (F.col("n1") + F.col("n2") - inter)
    return verified.select("doc1", "doc2", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def duplicate_span_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    span_tokens: int = 8,
) -> DataFrame:
    """Exact duplicate-SPAN excision — the substring-level dedup of Lee et
    al. 2021 ("Deduplicating Training Data Makes Language Models Better"),
    re-expressed for Spark: any token span of length >= ``span_tokens``
    that occurs more than once in the corpus is detected through its
    sliding windows (a duplicated span shares a window at EVERY offset, so
    window coverage is exact, not probabilistic), the globally-first
    occurrence (min (doc_id, position)) is kept as canonical, and every
    other occurrence's tokens are masked.

    Returns per document: n_tokens, n_dup_tokens (tokens covered by some
    non-canonical duplicated window), dup_fraction, and excised_text (the
    document with masked tokens removed — what the training corpus keeps).

    Scale shape — suffix arrays don't distribute; this does:
    - one narrow pass explodes each doc into (window_string, doc, pos)
      rows (~n per doc);
    - ONE shuffle on the window key computes count + canonical occurrence
      with map-side-combinable aggregates (count, min_by) — boilerplate
      hot windows are exactly the skew AQE splits;
    - non-canonical occurrences shuffle back to their doc (second, dup-
      density-sized shuffle) and the token mask is a per-doc HOF union —
      O(n * dup_positions) inside codegen, no Python.
    Window STRINGS (not hashes) keep the pipeline oracle-exact in any SQL
    engine; swap the key to xxhash64 at petabyte scale for a fixed-width
    shuffle (same plan, collision risk 2^-64 per pair).
    """
    L = span_tokens
    docs = ensure_parallelism(docs)
    toks = F.split(F.col(text_col), " ")
    base = docs.select(
        F.col(id_col).alias("doc_id"), toks.alias("t"), F.size(toks).alias("n")
    )
    # sliding L-token windows with positions (docs shorter than L emit none)
    occ = base.filter(F.col("n") >= L).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("n") - L),
                lambda i: F.concat_ws(" ", F.slice("t", i + 1, L)),
            )
        ).alias("pos", "win"),
    )
    stats = occ.groupBy("win").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min_by(F.struct("doc_id", "pos"), F.struct("doc_id", "pos")).alias("first"),
    )
    dup_occ = (
        occ.join(stats.filter(F.col("cnt") > 1), "win")
        .filter(
            (F.col("doc_id") != F.col("first.doc_id"))
            | (F.col("pos") != F.col("first.pos"))
        )
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("dup_pos"))
    )
    joined = base.join(dup_occ, "doc_id", "left").withColumn(
        "dup_pos", F.coalesce(F.col("dup_pos"), F.array().cast("array<int>"))
    )
    # token k is masked iff some non-canonical duplicated window covers it:
    # exists p in dup_pos with p <= k < p + L
    covered = lambda k: F.exists(  # noqa: E731
        "dup_pos", lambda p: (p <= k) & (k < p + F.lit(L))
    )
    kept = F.filter(
        F.transform("t", lambda x, k: F.struct(x.alias("tok"), covered(k).alias("m"))),
        lambda s: ~s["m"],
    )
    n_dup = F.size(
        F.filter(F.sequence(F.lit(0), F.col("n") - 1), lambda k: covered(k))
    )
    return joined.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        n_dup.cast("int").alias("n_dup_tokens"),
        (n_dup / F.col("n")).alias("dup_fraction"),
        F.concat_ws(" ", F.transform(kept, lambda s: s["tok"])).alias("excised_text"),
    )


#: SemDeDup's cluster-size target: n_seeds = max(4, ceil(n / this)), so
#: clusters stay ~bounded and the within-cluster quadratic term never
#: grows with the corpus (the whole point of clustering first).
SEMANTIC_CLUSTER_TARGET = 125


def semantic_dedup(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_seeds: int | None = None,
    threshold: float = 0.3,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): coarse-cluster the
    embedding space, then deduplicate by cosine similarity WITHIN each
    cluster — the cluster is the candidate bucket, so pair generation
    costs sum(|cluster|^2) instead of corpus^2, and k is chosen so
    clusters stay bounded as the corpus grows (k ∝ n keeps |cluster|
    constant; the quadratic term never returns).

    Deterministic oracle-able form: one assignment pass against the
    ``n_seeds`` lowest-id vectors as centroids (the same rule
    ml_kmeans_step checks); production swaps in kmeans_train_portable's
    trained centroids — identical plan, different literals. Near-duplicate pairs
    (cosine >= threshold) resolve to clusters via connected components;
    the min-id member of each component is canonical.

    Returns one row per vector: (id, cluster, kept) — kept=false means a
    semantically-duplicate higher-id copy.
    """
    from ecommerce_etl_pipeline_spark.llmops.clustering import (
        assign_to_seeds,
        connected_components,
    )
    from ecommerce_etl_pipeline_spark.llmops.similarity import dot, norm

    if n_seeds is None:
        # k scales with the corpus so cluster sizes stay ~constant — one
        # bounded count() at build time (same class as a join statistic)
        n_seeds = max(4, -(-vectors.count() // SEMANTIC_CLUSTER_TARGET))
    seeds = (
        vectors.orderBy(id_col)
        .limit(n_seeds)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
    )
    # per-vector norm computed ONCE here: the pair scorer below would
    # otherwise re-fold each side's norm for every pair it appears in —
    # 3 array folds per pair instead of 1 (measured 3x on the sf0.1
    # within-cluster pairing). Same value either way (sqrt of the same
    # double), so the oracle may keep computing norms inline.
    # CACHED: the seed assignment is the corpus-dominant per-row pass, and
    # this frame feeds THREE consumers (both pair-join sides and the final
    # keep/drop join) — uncached, each re-runs the assignment kernel over
    # every vector. Rows are thin (id, cluster, vec, nrm).
    assigned = caches.persist(
        assign_to_seeds(vectors, seeds, id_col=id_col, vec_col=vec_col).select(
            "id", "cluster", "vec", norm(F.col("vec")).alias("nrm")
        )
    )
    # within-cluster candidate pairs: the self-join key IS the cluster —
    # unhinted per the JOIN STRATEGY doctrine (both sides corpus-sized)
    l, r = assigned.alias("l"), assigned.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.cluster") == F.col("r.cluster"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .withColumn(
            "cosine",
            dot(F.col("l.vec"), F.col("r.vec")) / (F.col("l.nrm") * F.col("r.nrm")),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
        .select(F.col("l.id").alias("doc1"), F.col("r.id").alias("doc2"))
    )
    comps = connected_components(pairs)
    dropped = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("id"), F.lit(False).alias("kept")
    )
    out = assigned.select("id", "cluster").join(dropped, "id", "left")
    return out.select(
        F.col("id").alias(id_col),
        "cluster",
        F.coalesce(F.col("kept"), F.lit(True)).alias("kept"),
    )

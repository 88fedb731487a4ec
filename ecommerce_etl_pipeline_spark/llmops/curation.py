"""Training-data curation: the end-to-end pipeline a 100 TB pretraining
corpus goes through — language ID -> quality filter -> exact dedup ->
near-dup cluster canonicalization — composed from the llmops operators as
ONE lazy plan (no intermediate materialization; Catalyst fuses the narrow
stages, and the only wide stages are the dedup shuffles).

Mirrors the shape of published pipelines (C4 / RefinedWeb / FineWeb):
heuristic filters first (cheap, narrow, prune early so the expensive dedup
shuffles see fewer bytes), exact dedup before near-dup (hash shuffle is
cheaper than shingle shuffle), canonical representative = min doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ecommerce_etl_pipeline_spark.llmops import dedup, text
from ecommerce_etl_pipeline_spark.llmops.clustering import connected_components
from ecommerce_etl_pipeline_spark.operators import caches
from ecommerce_etl_pipeline_spark.operators.parallelism import ensure_parallelism


def predicted_lang(t: F.Column) -> F.Column:
    """Stopword-hit argmax language ID (same rule as txt_lang_id_confusion)."""
    hits = {lang: text.stopword_hits(t, lang) for lang in ("en", "es", "de")}
    return (
        F.when(
            (hits["en"] >= hits["es"]) & (hits["en"] >= hits["de"]) & (hits["en"] > 0),
            F.lit("en"),
        )
        .when((hits["es"] >= hits["de"]) & (hits["es"] > 0), F.lit("es"))
        .when(hits["de"] > 0, F.lit("de"))
        .otherwise(F.lit("unknown"))
    )


def _lang_and_length_gate(t: F.Column, lang: str, min_tokens: int) -> F.Column:
    """Fused language-ID + min-length predicate in ONE aggregate pass.

    Semantically identical to ``predicted_lang(t) == lang AND
    token_count(t) >= min_tokens`` but evaluated as a single fold over the
    token array: HOF expressions run interpreted (outside codegen CSE), so
    the when-chain form re-splits and re-scans the tokens once per count
    reference (~6 passes/row). One accumulator struct carries all three
    stopword counts plus the token count; the finish lambda applies the
    same priority-ordered argmax rule as :func:`predicted_lang`. Measured
    3x on the curate filter stage.
    """
    sw = text.STOPWORDS
    init = F.struct(
        *(F.lit(0).alias(lg) for lg in sw), F.lit(0).alias("n")
    )

    def merge(acc: F.Column, x: F.Column) -> F.Column:
        return F.struct(
            *((acc[lg] + x.isin(*sw[lg]).cast("int")).alias(lg) for lg in sw),
            (acc["n"] + 1).alias("n"),
        )

    def finish(acc: F.Column) -> F.Column:
        langs = list(sw)
        # priority-ordered argmax: lang wins if it beats every later lang,
        # ties broken by list order, and no earlier lang already won
        def wins(lg: str) -> F.Column:
            later = langs[langs.index(lg) + 1 :]
            cond = acc[lg] > 0
            for other in later:
                cond = cond & (acc[lg] >= acc[other])
            return cond

        if lang == "unknown":
            # predicted_lang's otherwise-branch: NO stopword language
            # wins (the shape of a corpus outside the stopword tables,
            # e.g. the synthetic-vocabulary Zipf fixtures)
            matched = ~wins(langs[0])
            for other in langs[1:]:
                matched = matched & ~wins(other)
        else:
            matched = wins(lang)
            for earlier in langs[: langs.index(lang)]:
                matched = matched & ~wins(earlier)
        return matched & (acc["n"] >= min_tokens)

    return F.aggregate(text.tokens(t), init, merge, finish)


def curate(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang: str = "en",
    min_tokens: int = 5,
    max_punct_ratio: float = 0.3,
    jaccard_threshold: float = 0.5,
    use_minhash: bool = True,
    portable_minhash: bool = False,
    use_ppjoin: bool = False,
    classifier_weights: list[int] | None = None,
    classifier_threshold: float = 0.5,
) -> DataFrame:
    """Curated corpus: (doc_id, text, n_tokens) of the documents that
    survive all four stages. ``use_minhash=True`` is the scale path
    (LSH-banded candidates); ``False`` runs the exact shingle-Jaccard join
    (oracle-friendly, same downstream semantics). With
    ``use_minhash=False, use_ppjoin=True`` the exact stage runs through
    the PPJoin prefix filter instead of the plain inverted index —
    IDENTICAL results by construction (dedup.ppjoin_pairs is exact;
    equality pinned in tests/test_llmops_algos.py), but the candidate
    fan-out stays linear on df-skewed (Zipf) corpora where the plain
    index join's sum(df^2) is dominated by hot boilerplate shingles —
    the exact END-TO-END pipeline a real web corpus runs at scale
    (SCALING.md round-6 Zipf fixture: 783-5230x candidate cut). Both
    exact candidate generators shuffle raw shingle strings, the mode every
    registered curation query replays in DuckDB.

    ``classifier_weights`` (FineWeb shape: train -> holdout-gate ->
    apply at corpus scale) replaces stage 2's PUNCT-RATIO HEURISTIC with
    a TRAINED quality gate: keep documents the d = 5 + n_buckets
    hashed-geometry linear scorer (classifier.train_linear_scorer with
    features="hashed") predicts positive — fast_sigmoid(z) >= 0.5 via
    classifier.hashed_score_expr, the integer-nano fold form (ONE md5
    pass per row even inside the filter; bit-identical to
    score_with_weights(features="hashed").predicted by construction —
    pinned in tests/test_pipelines.py). The language-ID + min-length
    gate stays (lang filtering precedes quality in every published
    pipeline); ``max_punct_ratio`` is ignored when weights are given.
    ``classifier_threshold`` is the OPERATING POINT of the trained gate
    (default 0.5, the raw sign of z): a production gate derives it from
    the calibration report (ml_logreg_calibration's reliability bins —
    e.g. the lowest bin whose empirical positive rate clears a target
    precision) rather than assuming the sigmoid midpoint; the same value
    feeds streaming/streams.py::classifier_gate_stream's ``threshold``
    so batch and ingest-time gates keep identical operating points
    (all three faces pinned at a calibration-derived threshold in
    tests/test_streaming.py). No rounding hazard: the fold-form score is
    bit-portable by construction, so the comparison is engine-invariant.
    """
    if use_ppjoin and use_minhash:
        # use_minhash defaults True; a caller opting into the exact PPJoin
        # path must not silently receive approximate LSH results instead
        raise ValueError(
            "use_ppjoin=True requires use_minhash=False (PPJoin is an "
            "EXACT candidate generator; minhash is the approximate one)"
        )
    t = F.col(text_col)

    # 1+2: narrow, fused, pushed to the scan — prune rows AND columns before
    # any shuffle (only (id, text) travel through the dedup stages). Widen
    # under-split inputs first: the lang-ID/quality regex pass is the
    # per-row-heaviest narrow stage in the pipeline and must not run on one
    # core because the corpus arrived as one parquet split.
    if classifier_weights is not None:
        # trained-classifier quality gate (see docstring): the fold-form
        # score is one expression with a single bucket-array reference,
        # so the filter costs one md5 pass per row regardless of d
        from ecommerce_etl_pipeline_spark.llmops import classifier

        quality_gate = (
            classifier.hashed_score_expr(
                F.coalesce(t, F.lit("")), classifier_weights
            )
            >= F.lit(classifier_threshold)
        )
    else:
        quality_gate = text.punct_ratio(t) <= max_punct_ratio
    filtered = ensure_parallelism(docs.select(id_col, text_col)).filter(
        _lang_and_length_gate(t, lang, min_tokens) & quality_gate
    )

    # 3: exact dedup — keep the min-id copy of each byte-identical text.
    # Hash-aggregate min_by on the md5, not a window: partial (map-side)
    # aggregation collapses duplicates BEFORE the shuffle — at 100 TB the
    # exchange carries one row per distinct text per input partition — and
    # there is no per-partition sort. Cached: feeds both the candidate-pair
    # generation (materialized during component resolution) and the final
    # anti-join — measured ~2 s faster at sf0.1 than recomputing the
    # narrow lineage.
    exact = caches.persist(
        filtered.groupBy(F.md5(t).alias("_h"))
        .agg(F.min_by(F.struct(id_col, text_col), F.col(id_col)).alias("_doc"))
        .select("_doc.*")
    )

    # 4: near-dup — candidate pairs -> clusters -> keep each cluster's
    # representative (min id). Non-clustered docs pass through untouched.
    if use_minhash:
        # portable_minhash=True swaps both hash sites to the md5-portable
        # forms so the whole banded path replays in a SQL oracle (see
        # dedup.minhash_candidate_pairs); same plan shape.
        cand = dedup.minhash_candidate_pairs(
            exact, id_col, text_col, portable=portable_minhash
        )
        pairs = cand.filter(F.col("jaccard") >= jaccard_threshold)
    elif use_ppjoin:
        pairs = dedup.ppjoin_pairs(
            exact, id_col, text_col,
            threshold=jaccard_threshold, hashed=False,
        )
    else:
        pairs = dedup.jaccard_similarity_join(
            exact, id_col, text_col,
            threshold=jaccard_threshold, hashed=False,
        )
    components = connected_components(pairs)
    drop = components.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return exact.join(drop, id_col, "left_anti").select(
        id_col, text_col, text.token_count(t).alias("n_tokens")
    )

"""North-star queries: dedup / similarity / text analysis / multimodal
(SURVEY.md §2.13) over the documents and embeddings testdata tables.

SQL-expressible operators carry full DuckDB oracles; the LSH/SimHash
candidate-generation paths are registered without oracles (driver records
rows-only checks) because their bucketing is hash-seeded rather than
relational.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ecommerce_etl_pipeline_spark.functions.exact_agg import portable_round, sql_round
from ecommerce_etl_pipeline_spark.llmops import (
    classifier,
    clustering,
    dedup,
    multimodal,
    similarity,
    splits,
    text,
)
from ecommerce_etl_pipeline_spark.operators import caches
from ecommerce_etl_pipeline_spark.operators.parallelism import ensure_parallelism
from ecommerce_etl_pipeline_spark.plans.registry import register
from ecommerce_etl_pipeline_spark.sources.io import load_table


@register(
    "dd_exact_dedup",
    oracle="""
    SELECT md5(text) AS text_hash,
           MIN(doc_id) AS canonical_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
    doc="Exact deduplication via content-hash groupBy: one shuffle on the "
    "hash, keep min doc_id as canonical. At 100 TB the md5 reduces shuffle "
    "width to 32 bytes + id per row regardless of document size.",
)
def dd_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@register(
    "dd_dedup_summary",
    oracle="""
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT md5(text)) AS n_unique,
           COUNT(*) - COUNT(DISTINCT md5(text)) AS n_duplicates
    FROM documents
    """,
    doc="Corpus-level dedup statistics (exact).",
)
def dd_dedup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias("n_duplicates"),
    )


@register(
    "txt_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS token_count,
           CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS distinct_tokens,
           {sql_round(
               "CAST(list_sum(list_transform(string_split(text, ' '), x -> length(x)))"
               " AS DOUBLE) / len(string_split(text, ' '))", 4)} AS avg_token_len
    FROM documents
    """,
    doc="Per-document token statistics: whitespace tokenization, distinct "
    "count, average token length — all JVM higher-order functions, one "
    "codegen stage, no shuffle.",
)
def txt_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        text.token_count(t).alias("token_count"),
        text.distinct_token_count(t).alias("distinct_tokens"),
        portable_round(
            text.token_length_sum(t).cast("double") / text.token_count(t), 4
        ).alias("avg_token_len"),
    )


@register(
    "txt_quality_scores",
    oracle=f"""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INTEGER)
               AS bpe_ish_tokens,
           {sql_round("CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)"
                      " / length(text)", 4)} AS punct_ratio,
           {sql_round(
               "CAST(len(list_filter(string_split(text, ' '), x -> list_contains("
               "['the','a','and','of','to','in','is'], x))) AS DOUBLE)"
               " / len(string_split(text, ' '))", 4)} AS stopword_ratio
    FROM documents
    """,
    doc="Quality scoring: byte length, BPE-ish regex token count, "
    "punctuation ratio, English stopword ratio — the standard pre-training "
    "filter features (length/punct/stopword heuristics).",
)
def txt_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.octet_length(t).cast("bigint").alias("n_bytes"),
        text.bpe_ish_token_count(t).alias("bpe_ish_tokens"),
        portable_round(text.punct_ratio(t), 4).alias("punct_ratio"),
        portable_round(
            text.stopword_hits(t, "en").cast("double") / text.token_count(t), 4
        ).alias("stopword_ratio"),
    )


@register(
    "dd_span_excision",
    oracle="""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS t,
               len(string_split(text, ' ')) AS n
        FROM documents
    ),
    occ AS (
        SELECT doc_id, u.i - 1 AS pos, array_to_string(t[u.i : u.i + 7], ' ') AS win
        FROM base, UNNEST(generate_series(1, n - 7)) AS u(i)
        WHERE n >= 8
    ),
    dup_occ AS (
        SELECT doc_id, pos FROM (
            SELECT doc_id, pos,
                   ROW_NUMBER() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn,
                   COUNT(*) OVER (PARTITION BY win) AS cnt
            FROM occ
        ) WHERE cnt > 1 AND rn > 1
    ),
    masked AS (
        SELECT DISTINCT o.doc_id, u.k
        FROM dup_occ o, UNNEST(generate_series(o.pos, o.pos + 7)) AS u(k)
    ),
    tok AS (
        SELECT b.doc_id, u.k, b.t[u.k + 1] AS tok, b.n
        FROM base b, UNNEST(generate_series(0, n - 1)) AS u(k)
    )
    SELECT t.doc_id,
           CAST(ANY_VALUE(t.n) AS INTEGER) AS n_tokens,
           CAST(COUNT(m.k) AS INTEGER) AS n_dup_tokens,
           CAST(COUNT(m.k) AS DOUBLE) / ANY_VALUE(t.n) AS dup_fraction,
           COALESCE(string_agg(tok, ' ' ORDER BY t.k)
                    FILTER (WHERE m.k IS NULL), '') AS excised_text
    FROM tok t LEFT JOIN masked m ON t.doc_id = m.doc_id AND t.k = m.k
    GROUP BY t.doc_id
    """,
    doc="Exact duplicate-SPAN excision (Lee et al. 2021 substring dedup, "
    "distributed): every >=8-token span occurring more than once in the "
    "corpus is found through its sliding windows (exact — a duplicated "
    "span shares a window at every offset), the globally-first occurrence "
    "stays canonical, and all other occurrences' tokens are removed from "
    "the emitted excised_text. Suffix arrays don't distribute; this is "
    "one window-key shuffle with map-side-combinable count/min_by plus a "
    "dup-density-sized shuffle back to documents and a per-doc HOF mask "
    "(llmops/dedup.py::duplicate_span_stats). Window strings keep it "
    "oracle-exact; production swaps the key to xxhash64 for fixed-width "
    "shuffles.",
)
def dd_span_excision(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.duplicate_span_stats(docs, span_tokens=8)


# coefficients shared with the streaming ingest gate (llmops/text.py) —
# rendered as literals into the oracle SQL below.
_QL_W = text.QUALITY_LOGIT_WEIGHTS


@register(
    "txt_quality_logit",
    oracle=f"""
    WITH feats AS (
        SELECT doc_id,
               ln(len(string_split(text, ' '))) AS log_tokens,
               CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                   / length(text) AS punct_ratio,
               CAST(len(list_filter(string_split(text, ' '), x -> list_contains(
                   ['the','a','and','of','to','in','is'], x))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS stopword_ratio
        FROM documents
    ),
    scored AS (
        SELECT doc_id,
               1.0 / (1.0 + exp(-({_QL_W["bias"]}
                                  + {_QL_W["log_tokens"]} * log_tokens
                                  + {_QL_W["punct"]} * punct_ratio
                                  + {_QL_W["stopword"]} * stopword_ratio))) AS s
        FROM feats
    )
    SELECT doc_id,
           {sql_round("s", 6)} AS quality_score,
           {sql_round("s", 6)} >= 0.5 AS keep
    FROM scored
    """,
    doc="Trained-classifier application at scale: a logistic quality model "
    "with fixed literal coefficients (the deployed form of a FineWeb/"
    "DCLM-style learned filter) scored entirely JVM-side over the same "
    "heuristic features as txt_quality_scores — sigmoid(w.x) per document, "
    "keep-flag thresholded on the ROUNDED score so the boundary decision "
    "is engine-portable. Narrow scan-side map, no shuffle; at 100 TB this "
    "is one pass, and swapping in real learned weights is a literal "
    "change, not a plan change.",
)
def txt_quality_logit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    score = portable_round(text.quality_logit_score(F.col("text")), 6)
    return docs.select(
        "doc_id",
        score.alias("quality_score"),
        (score >= F.lit(0.5)).alias("keep"),
    )


@register(
    "txt_repetition",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ), bg AS (
        SELECT doc_id,
               tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
        FROM toks
        QUALIFY lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL
    )
    SELECT doc_id,
           CAST(COUNT(*) AS INTEGER) AS n_bigrams,
           CAST(COUNT(DISTINCT bigram) AS INTEGER) AS distinct_bigrams,
           {sql_round("1.0 - CAST(COUNT(DISTINCT bigram) AS DOUBLE) / COUNT(*)", 4)}
               AS repetition_ratio
    FROM bg GROUP BY 1
    """,
    doc="Repeated-bigram fraction per document — the Gopher/C4-style "
    "repetition quality filter. Spark computes it scan-side in one narrow "
    "higher-order pass (build bigrams, count distinct in-array): zero "
    "shuffle, so at 100 TB it prices like a projection. The oracle has to "
    "unnest + window to say the same thing relationally.",
)
def txt_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    # one bigram-array build per row: total count is arithmetic (n_tokens-1)
    # and the ratio derives from the distinct count
    db = text.distinct_bigram_count(t)
    nb = text.token_count(t) - 1
    return (
        docs.filter(text.token_count(t) >= 2)
        .select(
            "doc_id",
            nb.alias("n_bigrams"),
            db.alias("distinct_bigrams"),
            portable_round(F.lit(1.0) - db.cast("double") / nb, 4).alias(
                "repetition_ratio"
            ),
        )
    )


_LANG_HITS = {
    lang: (
        f"len(list_filter(string_split(text, ' '), x -> list_contains("
        f"[{', '.join(repr(s) for s in stops)}], x)))"
    )
    for lang, stops in text.STOPWORDS.items()
}


@register(
    "txt_lang_id_confusion",
    oracle=f"""
    WITH scored AS (
        SELECT lang AS labeled_lang,
               {_LANG_HITS['en']} AS en_hits,
               {_LANG_HITS['es']} AS es_hits,
               {_LANG_HITS['de']} AS de_hits
        FROM documents
    )
    SELECT labeled_lang,
           CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits > 0 THEN 'en'
                WHEN es_hits >= de_hits AND es_hits > 0 THEN 'es'
                WHEN de_hits > 0 THEN 'de'
                ELSE 'unknown' END AS predicted_lang,
           COUNT(*) AS n_docs
    FROM scored
    GROUP BY 1, 2
    """,
    doc="Language-ID n-gram heuristic (stopword voting) + confusion matrix "
    "against the labeled lang column. Deterministic tiebreak order "
    "en > es > de.",
)
def txt_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    hits = {lang: text.stopword_hits(t, lang) for lang in ("en", "es", "de")}
    predicted = (
        F.when(
            (hits["en"] >= hits["es"]) & (hits["en"] >= hits["de"]) & (hits["en"] > 0),
            F.lit("en"),
        )
        .when((hits["es"] >= hits["de"]) & (hits["es"] > 0), F.lit("es"))
        .when(hits["de"] > 0, F.lit("de"))
        .otherwise(F.lit("unknown"))
    )
    return (
        docs.select(F.col("lang").alias("labeled_lang"), predicted.alias("predicted_lang"))
        .groupBy("labeled_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "txt_fingerprints",
    oracle="""
    SELECT doc_id,
           md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS content_fingerprint
    FROM documents
    """,
    doc="Document fingerprinting: exact (normalized-text md5) and "
    "order-insensitive (sorted distinct token set md5) — the cheap "
    "first-pass signals before MinHash.",
)
def txt_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.fingerprint(F.col("text")).alias("fingerprint"),
        text.content_fingerprint(F.col("text")).alias("content_fingerprint"),
    )


@register(
    "txt_winnow_fingerprints",
    oracle=f"""
    WITH g AS (
        SELECT doc_id,
               list_transform(range(1, length(text) - {text.WINNOW_K} + 2), i ->
                   list_reduce(
                       list_transform(range(0, {text.WINNOW_K}), j ->
                           CAST(ascii(substring(text, CAST(i + j AS INT), 1)) AS BIGINT)),
                       (a, b) -> (a * {text.WINNOW_B} + b) % {text.WINNOW_P})) AS kg
        FROM documents
        WHERE length(text) >= {text.WINNOW_K + text.WINNOW_W - 1}
    )
    SELECT doc_id,
           unnest(list_distinct(
               list_transform(range(1, len(kg) - {text.WINNOW_W} + 2), s ->
                   list_min(list_transform(range(0, {text.WINNOW_W}),
                                           d -> kg[CAST(s + d AS INT)]))))) AS fingerprint
    FROM g
    """,
    doc="Winnowing (MOSS) rolling-hash fingerprints: polynomial hash of "
    "every char k-gram, distinct minima of each w-window. Any shared "
    "substring of length >= k+w-1 is guaranteed a shared fingerprint at "
    "~2/(w+1) density — the partial-overlap detector exact/content md5 "
    "fingerprints can't provide. Portable arithmetic hash (no engine hash "
    "fn), so the oracle is exact. Scan-side narrow pass; the k-gram hash "
    "array is materialized in its own projection so the windowing lambda "
    "reads a column, not a re-evaluated expression (see winnow_fingerprints "
    "docstring).",
)
def txt_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # widen before the interpreted k-gram pass: a single-row-group parquet
    # scans as ONE partition, serializing ~n·k HOF evaluations per doc onto
    # one core (measured 17.6s -> ~1s at sf0.1, 32 cores); no-op on an
    # already-wide scan (never shrinks)
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    k, w = text.WINNOW_K, text.WINNOW_W
    kgrams = docs.filter(F.length("text") >= k + w - 1).select(
        "doc_id", text.kgram_rolling_hashes(F.col("text"), k).alias("kg")
    )
    return kgrams.select(
        "doc_id",
        F.explode(text.winnow_fingerprints(F.col("kg"), w)).alias("fingerprint"),
    )


@register(
    "dd_winnow_overlap_pairs",
    oracle=f"""
    WITH g AS (
        SELECT doc_id,
               list_transform(range(1, length(text) - {text.WINNOW_K} + 2), i ->
                   list_reduce(
                       list_transform(range(0, {text.WINNOW_K}), j ->
                           CAST(ascii(substring(text, CAST(i + j AS INT), 1)) AS BIGINT)),
                       (a, b) -> (a * {text.WINNOW_B} + b) % {text.WINNOW_P})) AS kg
        FROM documents
        WHERE length(text) >= {text.WINNOW_K + text.WINNOW_W - 1}
    ),
    f AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(kg) - {text.WINNOW_W} + 2), s ->
                   list_min(list_transform(range(0, {text.WINNOW_W}),
                                           d -> kg[CAST(s + d AS INT)])))) AS fps
        FROM g
    ),
    inv AS (SELECT doc_id, len(fps) AS n_fps, unnest(fps) AS fp FROM f),
    rare AS (SELECT fp FROM inv GROUP BY fp HAVING COUNT(*) <= 20),
    kept AS (SELECT inv.* FROM inv JOIN rare USING (fp))
    SELECT l.doc_id AS doc1, r.doc_id AS doc2,
           COUNT(*) AS shared_fps,
           {sql_round("CAST(COUNT(*) AS DOUBLE) / least(l.n_fps, r.n_fps)", 4)}
               AS overlap
    FROM kept l JOIN kept r ON l.fp = r.fp AND l.doc_id < r.doc_id
    GROUP BY l.doc_id, r.doc_id, l.n_fps, r.n_fps
    HAVING COUNT(*) >= 2
    """,
    doc="Partial-overlap near-dup pairs from winnowed rolling-hash "
    "fingerprints: containment detection (quotes, boilerplate, copied "
    "passages) that whole-document Jaccard misses. Inverted-index join "
    "over winnow minima with a doc-frequency cap as the skew guard "
    "(boilerplate fingerprints are the hot keys); exact oracle because "
    "the hash is portable arithmetic.",
)
def dd_winnow_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.winnow_overlap_pairs(docs, min_shared=2, max_df=20)
    out = pairs.select(
        "doc1", "doc2", "shared_fps", portable_round(F.col("overlap"), 4).alias("overlap")
    )
    return out


@register(
    "sim_cosine_topk",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_sum(list_transform(generate_series(1, len(e.embedding)),
                        i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(generate_series(1, len(q.qv)),
                        i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)),
                        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))))
               AS cos
        FROM q, embeddings e
        WHERE e.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id,
           {sql_round('cos', 6)} AS cosine,
           CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 10
    """,
    doc="Brute-force cosine top-10 for 5 query vectors — the exact ANN "
    "baseline (broadcast queries × corpus scan, JVM zip_with dot products, "
    "per-query window top-k). The LSH variant (sim_lsh_topk) is the scale "
    "path.",
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    res = similarity.brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)
    return res.select(
        "query_id",
        "neighbor_id",
        portable_round(F.col("cosine"), 6).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


# ---------------------------------------------------------------------------
# MMR diversified re-ranking (round 10): the selection step a training-data
# pipeline runs AFTER retrieval — eval-set sampling, hard-negative mining,
# and dedup-aware context packing all want the top results to be RELEVANT
# but not redundant. Maximal Marginal Relevance (Carbonell & Goldstein '98):
# greedily pick argmax of lambda*rel(d) - (1-lambda)*max_{s in S} sim(d, s).
# Scale shape: the DISTRIBUTED part is the top-N pool (brute_force_topk —
# broadcast query x corpus scan; swap in the IVF/LSH index at 100 TB); the
# pool (N=20 rows) and its N^2 pairwise sims are BOUNDED state by
# construction, so the greedy re-rank runs driver-side over one small
# collect (the bpe bounded-state doctrine; a lazy unrolled-lineage form of
# the greedy pays a ~9s Catalyst planning constant). The oracle replays
# the identical greedy steps as chained CTEs. Scores stay raw doubles
# through the argmax (the sim_cosine_topk precedent: the driver fold is
# bit-identical to DuckDB's list_sum, ties break on vec_id) and round only
# at the output boundary.
# ---------------------------------------------------------------------------
_MMR_POOL = 20
_MMR_K = 5
_MMR_LAMBDA = 0.5
_MMR_QUERY_ID = 0


def _mmr_cos_sql(a: str, b: str) -> str:
    """DuckDB cosine between two embedding expressions — the exact
    left-to-right fold shape of similarity.cosine (one summation order,
    so the doubles match Spark's bit-for-bit)."""
    return (
        f"list_sum(list_transform(generate_series(1, len({a})),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
        f" / (sqrt(list_sum(list_transform(generate_series(1, len({a})),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"
        f" * sqrt(list_sum(list_transform(generate_series(1, len({b})),"
        f" i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))))"
    )


def _mmr_sel_ctes() -> str:
    """The K greedy selection steps as chained CTEs. Step 1 has an empty
    selected set (diversity term literally 0.0); step t>1 subtracts the
    max pairwise similarity to the union of all prior picks."""
    lam, om = _MMR_LAMBDA, 1 - _MMR_LAMBDA
    parts = [
        f"""
    sel1 AS (
        SELECT vec_id, rel, ({lam} * rel) - ({om} * 0.0) AS mmr, 1 AS step
        FROM pool ORDER BY ({lam} * rel) - ({om} * 0.0) DESC, vec_id LIMIT 1
    )"""
    ]
    for t in range(2, _MMR_K + 1):
        prev_ids = " UNION ALL ".join(
            f"SELECT vec_id FROM sel{i}" for i in range(1, t)
        )
        parts.append(
            f"""
    sel{t} AS (
        SELECT p.vec_id, p.rel,
               ({lam} * p.rel) - ({om} * coalesce(
                   (SELECT MAX(s.sim) FROM sims s
                    WHERE s.a_id = p.vec_id
                      AND s.b_id IN ({prev_ids})), 0.0)) AS mmr,
               {t} AS step
        FROM pool p
        WHERE p.vec_id NOT IN ({prev_ids})
        ORDER BY mmr DESC, p.vec_id LIMIT 1
    )"""
        )
    return ",".join(parts)


@register(
    "sim_mmr_diversify",
    oracle=f"""
    WITH q AS (
        SELECT embedding AS qv FROM embeddings WHERE vec_id = {_MMR_QUERY_ID}
    ),
    scored AS (
        SELECT e.vec_id, {_mmr_cos_sql('q.qv', 'e.embedding')} AS rel
        FROM embeddings e, q WHERE e.vec_id != {_MMR_QUERY_ID}
    ),
    pool AS (
        SELECT vec_id, rel FROM (
            SELECT *, ROW_NUMBER() OVER (ORDER BY rel DESC, vec_id) AS rn
            FROM scored
        ) WHERE rn <= {_MMR_POOL}
    ),
    pvec AS (
        SELECT p.vec_id, e.embedding FROM pool p
        JOIN embeddings e USING (vec_id)
    ),
    sims AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               {_mmr_cos_sql('a.embedding', 'b.embedding')} AS sim
        FROM pvec a, pvec b WHERE a.vec_id != b.vec_id
    ),{_mmr_sel_ctes()}
    SELECT CAST(step AS INTEGER) AS step, vec_id,
           {sql_round('rel', 6)} AS relevance,
           {sql_round('mmr', 6)} AS mmr
    FROM ({" UNION ALL ".join(
        f"SELECT * FROM sel{t}" for t in range(1, _MMR_K + 1))})
    """,
    doc="Maximal-Marginal-Relevance diversified top-k — the post-retrieval "
    "selection step for eval sampling / hard-negative mining / context "
    "packing, where the top results must be relevant but NOT redundant: "
    "greedy argmax of lambda*rel - (1-lambda)*max-sim-to-selected over a "
    "relevance top-N pool. The ONLY corpus-scaled term is the pool build "
    "(broadcast query x one corpus scan, the brute_force_topk kernel — at "
    "100 TB the IVF/LSH index swaps in for the same bounded pool); the "
    "pool and its pairwise sims are BOUNDED state by construction (<= N + "
    "N^2 rows), so the K-step greedy argmax runs driver-side over one "
    "small collect (the bpe_train bounded-state doctrine — a lazy "
    "unrolled-lineage form pays ~9s of Catalyst planning to re-rank 20 "
    "cached rows). Scores stay raw doubles through "
    "every argmax (the driver fold is bit-identical to DuckDB's list_sum; "
    "ties break on vec_id) and round only at the output. "
    "EAGER-EXECUTION CONTRACT (ADVICE r11 #4): building this query RUNS "
    "the pool job and a bounded collect inside the registered callable "
    "(the returned frame is a LocalTableScan over the driver-computed "
    "picks) — plan-only tooling (audit_plans' explain pass, explain-only "
    "probes) executes real Spark work for this entry; audit_plans carries "
    "the matching EXPECTED note.",
)
def sim_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    picks = similarity.mmr_diversify_rows(
        emb,
        emb.filter(F.col("vec_id") == _MMR_QUERY_ID),
        k=_MMR_K,
        pool_n=_MMR_POOL,
        lam=_MMR_LAMBDA,
    )
    out = spark.createDataFrame(
        picks, "step int, vec_id bigint, rel double, mmr double"
    )
    return out.select(
        "step",
        "vec_id",
        portable_round(F.col("rel"), 6).alias("relevance"),
        portable_round(F.col("mmr"), 6).alias("mmr"),
    )


@register(
    "sim_hard_negatives",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv, label AS ql
        FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS neighbor_label,
               list_sum(list_transform(generate_series(1, len(e.embedding)),
                        i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(generate_series(1, len(q.qv)),
                        i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)),
                        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))))
               AS cos
        FROM q, embeddings e
        WHERE e.vec_id != q.query_id AND e.label != q.ql
    )
    SELECT query_id, neighbor_id, neighbor_label,
           {sql_round('cos', 6)} AS cosine,
           CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 10
    """,
    doc="Contrastive hard-negative mining: per query vector, the top-10 "
    "most-similar corpus vectors with a DIFFERENT label — the near-"
    "boundary negatives embedding/reranker training batches against each "
    "anchor. Label inequality is fused into the broadcast join so same-"
    "label rows are never scored; same exact-scan shape as "
    "sim_cosine_topk, and at scale the corpus scan swaps for any ANN "
    "candidate generator with the same label-filtered re-rank.",
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    res = similarity.hard_negative_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)
    return res.select(
        "query_id",
        "neighbor_id",
        "neighbor_label",
        portable_round(F.col("cosine"), 6).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


@register(
    "sim_knn_label_audit",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv, label AS ql
        FROM embeddings WHERE vec_id < 100
    ),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS nb_label,
               list_sum(list_transform(generate_series(1, len(e.embedding)),
                        i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(generate_series(1, len(q.qv)),
                        i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)),
                        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))))
               AS cos
        FROM q, embeddings e
        WHERE e.vec_id != q.query_id
    ),
    topk AS (
        SELECT query_id, nb_label
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                           ORDER BY cos DESC, neighbor_id) AS rn
              FROM scored)
        WHERE rn <= 5
    ),
    votes AS (
        SELECT query_id, nb_label, COUNT(*) AS c FROM topk GROUP BY 1, 2
    ),
    pred AS (
        SELECT query_id, nb_label AS predicted
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                           ORDER BY c DESC, nb_label) AS rn
              FROM votes)
        WHERE rn = 1
    )
    SELECT ql AS label,
           COUNT(*) AS n_vectors,
           CAST(SUM(CASE WHEN predicted = ql THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
    FROM pred JOIN q USING (query_id)
    GROUP BY ql
    """,
    doc="Label-noise audit: leave-one-out 5-NN majority-vote label "
    "prediction for the 100 lowest-id vectors, reported as per-label "
    "agreement counts — the Confident-Learning-style check run before "
    "trusting a labeled embedding table. Probe hit-lists are "
    "hyperparameter-sized and broadcast; the corpus is scanned, never "
    "shuffled. Vote ties break (count desc, label asc) so the whole "
    "audit replays exactly in DuckDB.",
)
def sim_knn_label_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.knn_label_audit(emb, emb.filter(F.col("vec_id") < 100), k=5)


def _bpe_oracle_sql(num_merges: int = 20, min_pair_count: int = 2) -> str:
    """Unrolled BPE-training replay in DuckDB. The trick that makes the
    merge fold relational: each word's segmentation rides as a string of
    \\x01<sym>\\x02-bracketed symbols, and DuckDB's plain ``replace`` —
    greedy, left-to-right, non-overlapping — applied to the bracketed
    pair pattern implements EXACTLY llmops/bpe.py::_merge_pair's
    pending-buffer semantics ("aaa" under (a,a) → ["aa","a"]; per-symbol
    brackets mean adjacent matches share no boundary chars and symbols
    can never match inside other symbols). Pair counts are integer sums
    with lexicographic tie-breaks, so each round's argmax row replays;
    early stop falls out structurally: a round whose best pair is under
    min_pair_count yields an EMPTY one-row CTE, the LEFT JOIN keeps the
    vocabulary unchanged, and every later round stays empty too — the
    merge list is the union of the non-empty rounds, exactly the loop's
    break. The corpus is pure single-space ASCII (no \\x01/\\x02, no
    empty tokens), matching Spark's split semantics; a corpus violating
    that would need escaping here.
    """
    body = _bpe_rounds_sql(num_merges, min_pair_count)
    ranks = "\n        UNION ALL ".join(
        f'SELECT {t} AS "rank", a AS "left", b AS "right", a || b AS merged, '
        f"CAST(n AS BIGINT) AS pair_count FROM m{t}"
        for t in range(1, num_merges + 1)
    )
    return f"""
    WITH {body}
    SELECT CAST("rank" AS INTEGER) AS "rank", "left", "right", merged, pair_count
    FROM ({ranks})
    """


_BPE_SYM_PTN = "chr(1) || '([^' || chr(2) || ']*)' || chr(2)"


def _bpe_rounds_sql(num_merges: int = 20, min_pair_count: int = 2) -> str:
    """The shared WITH-clause body of the BPE replays: wc (word counts),
    v0 (initial bracketed segmentation, word carried), and per round t the
    m{t} argmax row and v{t} rewritten vocabulary. Consumers append their
    own final SELECT (merge list for txt_bpe_merges; v{num_merges} joined
    back to documents for txt_bpe_token_counts — the final round's
    segmentation IS the trained tokenizer applied to every word)."""
    x, y = "chr(1)", "chr(2)"
    # symbols contain no \x02, so the greedy negated class is exact
    ptn = _BPE_SYM_PTN
    its = []
    for t in range(1, num_merges + 1):
        its.append(f"""
    sy{t} AS MATERIALIZED (
        -- MATERIALIZED: sy{{t}} is referenced twice (argmax + rewrite);
        -- inlined CTEs would double the expansion every round — 2^20
        -- scans of documents by round 20
        SELECT w, regexp_extract_all(s, {ptn}, 1) AS sy, cnt, s FROM v{t - 1}
    ),
    m{t} AS (
        SELECT a, b, n FROM (
            SELECT sy[g.i] AS a, sy[g.i + 1] AS b, SUM(cnt) AS n
            FROM sy{t}, UNNEST(generate_series(1, len(sy) - 1)) AS g(i)
            GROUP BY 1, 2
        ) WHERE n >= {min_pair_count}
        ORDER BY n DESC, a, b LIMIT 1
    ),
    v{t} AS (
        SELECT v.w,
               CASE WHEN m.a IS NULL THEN v.s
                    ELSE replace(v.s, {x} || m.a || {y} || {x} || m.b || {y},
                                      {x} || m.a || m.b || {y}) END AS s,
               v.cnt
        FROM sy{t} v LEFT JOIN m{t} m ON TRUE
    )""")
    return f"""wc AS (
        SELECT w, COUNT(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w
    ),
    v0 AS (
        SELECT w,
               array_to_string(list_transform(generate_series(1, length(w)),
                   i -> {x} || substr(w, i, 1) || {y}), '')
               || {x} || '</w>' || {y} AS s,
               cnt
        FROM wc
    ),{",".join(its)}"""


@register(
    "txt_bpe_merges",
    oracle=_bpe_oracle_sql(),
    doc="Distributed BPE tokenizer training (Sennrich 2016): 20 merge "
    "rounds over the corpus word-TYPE table — the corpus is shuffled "
    "exactly once (word counts); every round after is one Zipf-small "
    "pair aggregate + a driver-collected argmax + a narrow per-word "
    "merge fold, with localCheckpoint bounding lineage depth. "
    "Deterministic (integer counts, lexicographic tie-breaks) — and "
    "therefore, since round 4, oracle-checked: the 20 rounds unroll "
    "into DuckDB CTEs where bracketed-symbol strings + greedy replace "
    "reproduce the merge fold exactly, early stop included "
    "(_bpe_oracle_sql). pytest additionally replays the whole training "
    "against a pure-Python reference (tests/test_bpe.py).",
)
def txt_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecommerce_etl_pipeline_spark.llmops import bpe

    docs = load_table(spark, sf_dir, "documents")
    # persist the word-TYPE table so the venue probe and (over-budget) the
    # merge loop share ONE materialization of the corpus scan+tokenize
    # reuse only). Not unpersisted here: this wc and txt_bpe_token_counts'
    # wc share one cache entry (see operators/caches.py), so the caller's
    # scope releases it.
    wc = caches.persist(bpe.word_counts(docs))
    merges = bpe.bpe_train(docs, num_merges=20, word_counts_df=wc)
    return spark.createDataFrame(
        [(i + 1, a, b, a + b, n) for i, (a, b, n) in enumerate(merges)],
        "rank INT, left STRING, right STRING, merged STRING, pair_count BIGINT",
    )


@register(
    "txt_bpe_token_counts",
    oracle=f"""
    WITH {_bpe_rounds_sql()},
    seg AS (
        SELECT w, len(regexp_extract_all(s, {_BPE_SYM_PTN}, 1)) AS seg_len
        FROM v20
    )
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(seg.seg_len) AS BIGINT) AS bpe_tokens
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) d
    JOIN seg USING (w)
    GROUP BY d.doc_id
    """,
    doc="Corpus tokenization with the TRAINED tokenizer — the token-budget "
    "primitive every training pipeline runs after BPE training: train 20 "
    "merges (llmops/bpe.py::bpe_train), apply them to the word-TYPE table "
    "(::bpe_apply — the corpus itself never meets the merges), then one "
    "narrow explode + word join + per-document aggregate yields exact "
    "BPE token counts per document. Scale shape: the corpus is TOKENIZED "
    "ONCE (a persisted word-type table shared by the training probe, the "
    "merge application and the final join); "
    "the expensive fold runs on the Zipf-small vocabulary; the corpus "
    "pass is explode + join + map-side-combinable sum, and the join's "
    "vocabulary side is unhinted (stats pick broadcast while it fits). "
    "Oracle: the shared "
    "unrolled-BPE CTE body — the final round's segmentation IS the "
    "tokenizer applied to every word, so token counts replay exactly.",
)
def txt_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecommerce_etl_pipeline_spark.llmops import bpe

    docs = load_table(spark, sf_dir, "documents")
    # ONE corpus tokenization serves training, application, and the join:
    # the persisted word-TYPE table feeds bpe_train (via word_counts_df —
    # its strategy probe reads the cache, not the corpus), bpe_apply (the
    # merges meet only this Zipf-small frame), and the per-document sum
    # below.
    wc = caches.persist(bpe.word_counts(docs))
    merges = bpe.bpe_train(docs, num_merges=20, word_counts_df=wc)
    seg = bpe.bpe_apply(wc.select("w"), merges).select(
        "w", F.size("syms").alias("seg_len")
    )
    words = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    return words.join(seg, "w").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("seg_len").cast("bigint").alias("bpe_tokens"),
    )


# ---- rows-only checks (hash-seeded candidate generation; not relational) ----


def _minhash_pairs_sql(
    src: str = "documents",
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> str:
    """Full MinHash-LSH replay in DuckDB: the 64 (a, b) coefficient pairs
    are rendered as SQL literals (the rp_topk matrix-as-literals doctrine),
    shingle and band hashes are the md5-portable forms, so banding,
    candidate self-join and exact-Jaccard verify all reproduce bit-for-bit.
    Embeddable as a CTE body (``pairs AS (<this>)``) the way
    :func:`_jaccard_pairs_sql` is — ``src`` swaps the corpus table.
    """
    coeffs = ", ".join(
        f"({i}, {a}, {b})"
        for i, (a, b) in enumerate(dedup._minhash_coeffs(num_hashes, seed))
    )
    rows = num_hashes // bands
    p = dedup.MERSENNE_31
    return f"""
    WITH coeffs(i, a, b) AS (VALUES {coeffs}),
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM {src}),
    sh AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 3 THEN
                   list_distinct(list_transform(generate_series(1, len(t) - 2),
                       i -> array_to_string(t[i:i+2], ' ')))
               ELSE [array_to_string(t, ' ')] END AS shingles
        FROM toks
    ),
    hs AS (
        SELECT doc_id,
               list_distinct(list_transform(shingles,
                   s -> CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) % {p}))
                   AS hashes
        FROM sh
    ),
    hx AS (SELECT doc_id, unnest(hashes) AS h FROM hs),
    sig AS (
        SELECT doc_id, i, MIN((a * h + b) % {p}) AS m
        FROM hx CROSS JOIN coeffs GROUP BY doc_id, i
    ),
    banded AS (
        SELECT doc_id, i // {rows} AS band,
               md5(string_agg(CAST(m AS VARCHAR), ',' ORDER BY i)) AS band_hash
        FROM sig GROUP BY doc_id, i // {rows}
    ),
    cand AS (
        SELECT DISTINCT l.doc_id AS doc1, r.doc_id AS doc2
        FROM banded l JOIN banded r
          ON l.band = r.band AND l.band_hash = r.band_hash
         AND l.doc_id < r.doc_id
    ),
    verified AS (
        SELECT c.doc1, c.doc2,
               len(list_intersect(h1.hashes, h2.hashes)) AS inter,
               len(h1.hashes) + len(h2.hashes)
                   - len(list_intersect(h1.hashes, h2.hashes)) AS uni
        FROM cand c
        JOIN hs h1 ON h1.doc_id = c.doc1
        JOIN hs h2 ON h2.doc_id = c.doc2
    )
    SELECT doc1, doc2, CAST(inter AS DOUBLE) / uni AS jaccard
    FROM verified WHERE CAST(inter AS DOUBLE) / uni >= {threshold}
    """


@register(
    "dd_minhash_pairs",
    oracle=_minhash_pairs_sql(),
    doc="MinHash-LSH near-duplicate candidate pairs with exact-Jaccard "
    "verification (64 hashes, 16 bands), md5-PORTABLE hash variant: the "
    "(a, b) coefficients are rendered into the oracle as literals and "
    "both hash sites replay in DuckDB, so the whole banding + verify "
    "pipeline is oracle-checked (was rows-only through round 3). The "
    "xxhash64 form (llmops/dedup.py, portable=False) stays the scale "
    "default; identical plan shape.",
)
def dd_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cand = dedup.minhash_candidate_pairs(docs, portable=True)
    return cand.filter(F.col("jaccard") >= 0.5)


@register(
    "dd_simhash_pairs",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_distinct(list_transform(string_split(text, ' '),
                   t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT))) AS th
        FROM documents
    ),
    votes AS (
        SELECT doc_id, i,
               SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM (SELECT doc_id, unnest(th) AS h FROM toks)
        CROSS JOIN (SELECT unnest(range(0, 64)) AS i)
        GROUP BY doc_id, i
    ),
    sh AS (
        -- LEFT JOIN from toks so a NULL-text doc (th NULL -> unnest drops
        -- it from votes) still lands at simhash 0, mirroring the Spark
        -- path's coalesce (llmops/dedup.py simhash_of_hashes): NULL-text
        -- docs band together instead of silently vanishing from the oracle
        SELECT t.doc_id,
               CAST(SUM(CASE WHEN v.v > 0 AND v.i < 63
                             THEN (CAST(1 AS BIGINT) << CAST(v.i AS INTEGER))
                             ELSE 0 END) AS BIGINT) AS s
        FROM toks t LEFT JOIN votes v ON v.doc_id = t.doc_id
        GROUP BY t.doc_id
    ),
    chunks AS (
        SELECT doc_id, s, c, (s >> CAST(c * 16 AS INTEGER)) & 65535 AS cv
        FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS c)
    ),
    cand AS (
        SELECT DISTINCT l.doc_id AS doc1, r.doc_id AS doc2, l.s AS s1, r.s AS s2
        FROM chunks l JOIN chunks r
          ON l.c = r.c AND l.cv = r.cv AND l.doc_id < r.doc_id
    )
    SELECT doc1, doc2, CAST(bit_count(xor(s1, s2)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(s1, s2)) <= 3
    """,
    doc="SimHash near-duplicate pairs within hamming distance 3, candidates "
    "via 16-bit chunk pigeonhole banding — md5-PORTABLE 60-bit token "
    "hashes since round 4, so the bit votes, sign packing, chunk "
    "banding and hamming verify all replay in DuckDB (was rows-only "
    "while the token hash was xxhash64).",
)
def dd_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs(docs, portable=True)


# 3-word shingle sets + inverted-index intersection counts, in DuckDB. The
# candidate set is COMPLETE (a pair at jaccard >= t shares >= 1 shingle), so
# unlike the MinHash/SimHash paths this is exactly oracle-checkable.
# max_df replays the LOWER-BOUND df cap (llmops/dedup.py
# jaccard_similarity_join): the index drops shingles with document
# frequency over the cap while n1/n2 stay the FULL set sizes — integer
# counts all the way, so the accounting is engine-portable.
def _jaccard_pairs_sql(src: str = "documents", max_df: int | None = None) -> str:
    kept = (
        f"""(
        SELECT doc_id, n, s FROM (
            SELECT doc_id, n, s, COUNT(*) OVER (PARTITION BY s) AS df
            FROM inv
        ) WHERE df <= {max_df}
    )"""
        if max_df is not None
        else "inv"
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM {src}
    ), sh AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 3 THEN
                   list_distinct(list_transform(generate_series(1, len(t) - 2),
                       i -> array_to_string(t[i:i+2], ' ')))
               ELSE [array_to_string(t, ' ')] END AS shingles
        FROM toks
    ), inv AS (
        SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh
    ), inter AS (
        SELECT l.doc_id AS doc1, r.doc_id AS doc2, l.n AS n1, r.n AS n2,
               COUNT(*) AS c
        FROM {kept} l JOIN {kept} r ON l.s = r.s AND l.doc_id < r.doc_id
        GROUP BY 1, 2, 3, 4
    )
    SELECT doc1, doc2, c / (n1 + n2 - c) AS jac
    FROM inter WHERE c / (n1 + n2 - c) >= 0.5
"""


@register(
    "dd_jaccard_pairs",
    oracle=f"""
    SELECT doc1, doc2, {sql_round('jac', 6)} AS jaccard
    FROM ({_jaccard_pairs_sql()})
    """,
    doc="Exact shingle-Jaccard set-similarity join (inverted-index "
    "candidates, threshold 0.5). Candidates are complete — any pair at "
    "jaccard >= t shares a shingle — so this near-dup path is fully "
    "oracle-checked (raw-shingle mode; production uses 31-bit hashed "
    "shingles for a narrower shuffle).",
)
def dd_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_similarity_join(docs, threshold=0.5, hashed=False)
    return pairs.select(
        "doc1", "doc2", portable_round(F.col("jaccard"), 6).alias("jaccard")
    )


@register(
    "dd_ppjoin_pairs",
    oracle=f"""
    SELECT doc1, doc2, {sql_round('jac', 6)} AS jaccard
    FROM ({_jaccard_pairs_sql()})
    """,
    doc="PPJoin/AllPairs prefix-filter set-similarity join — EXACT, so the "
    "oracle is the plain inverted-index SQL (algorithm-independent): any "
    "completeness bug in the prefix/positional filters shows up as a "
    "missing row. The (df asc, shingle asc) canonical order keeps hot "
    "boilerplate shingles out of the index — the scale path for "
    "df-SKEWED (Zipf) corpora, where the plain index join's sum(df^2) "
    "fan-out is dominated by the hot tail (SCALING.md round-6 Zipf "
    "fixture: measured candidate reduction).",
)
def dd_ppjoin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ppjoin_pairs(docs, threshold=0.5, hashed=False)
    out = pairs.select(
        "doc1", "doc2", portable_round(F.col("jaccard"), 6).alias("jaccard")
    )
    return out


@register(
    "dd_jaccard_df_capped",
    oracle=f"""
    SELECT doc1, doc2, {sql_round('jac', 6)} AS jaccard
    FROM ({_jaccard_pairs_sql(max_df=5)})
    """,
    doc="df-capped exact jaccard join with LOWER-BOUND accounting: shingles "
    "in more than max_df=5 documents leave the index (candidates and "
    "intersection counts) while denominators keep FULL set sizes, so "
    "every returned pair provably clears the true-jaccard threshold and "
    "the fan-out is bounded by max_df * |postings| (linear). The cap "
    "BITES at sf0.01 (max shingle df = 7), so the driver verifies the "
    "accounting itself, not a no-op branch; the DuckDB twin replays the "
    "df window + cap exactly (integer counts end to end).",
)
def dd_jaccard_df_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_similarity_join(
        docs, threshold=0.5, hashed=False, max_df=5
    )
    out = pairs.select(
        "doc1", "doc2", portable_round(F.col("jaccard"), 6).alias("jaccard")
    )
    return out


@register(
    "dd_contamination_report",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ), sh AS (
        SELECT doc_id, source,
               CASE WHEN len(t) >= 3 THEN
                   list_distinct(list_transform(generate_series(1, len(t) - 2),
                       i -> array_to_string(t[i:i+2], ' ')))
               ELSE [array_to_string(t, ' ')] END AS shingles
        FROM toks
    ), inv AS (
        SELECT doc_id, source, len(shingles) AS n, unnest(shingles) AS s FROM sh
    ), inter AS (
        SELECT l.source AS split1, r.source AS split2,
               l.doc_id AS doc1, r.doc_id AS doc2, l.n AS n1, r.n AS n2,
               COUNT(*) AS c
        FROM inv l JOIN inv r
          ON l.s = r.s AND l.doc_id < r.doc_id AND l.source <> r.source
        GROUP BY 1, 2, 3, 4, 5, 6
    )
    SELECT split1, split2, doc1, doc2,
           {sql_round("c / (n1 + n2 - c)", 6)} AS jaccard
    FROM inter WHERE c / (n1 + n2 - c) >= 0.5
    """,
    doc="Decontamination sweep: exact shingle-Jaccard near-dup pairs that "
    "CROSS the source split (train/eval leakage detection). The split "
    "inequality is fused into the inverted-index self-join, so same-split "
    "candidates drop before the intersection aggregate.",
)
def dd_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.cross_split_contamination(
        docs, split_col="source", threshold=0.5, hashed=False
    )
    return pairs.select(
        "split1",
        "split2",
        "doc1",
        "doc2",
        portable_round(F.col("jaccard"), 6).alias("jaccard"),
    )


@register(
    "dd_eval_decontam",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, source,
               CASE WHEN len(t) >= 3 THEN
                   list_distinct(list_transform(generate_series(1, len(t) - 2),
                       i -> array_to_string(t[i:i+2], ' ')))
               ELSE [array_to_string(t, ' ')] END AS shingles
        FROM (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents)
    ), tinv AS (
        SELECT doc_id AS train_id, len(shingles) AS n_t, unnest(shingles) AS h
        FROM sh WHERE source <> 'src0'
    ), einv AS (
        SELECT doc_id AS eval_id, len(shingles) AS n_e, unnest(shingles) AS h
        FROM sh WHERE source = 'src0'
    ), inter AS (
        SELECT train_id, eval_id, n_t, n_e, COUNT(*) AS c
        FROM tinv JOIN einv USING (h)
        GROUP BY 1, 2, 3, 4
    )
    SELECT train_id, eval_id,
           {sql_round("c / (n_t + n_e - c)", 6)} AS jaccard
    FROM inter WHERE c / (n_t + n_e - c) >= 0.5
    """,
    doc="Asymmetric eval-set decontamination: train docs (source<>src0) "
    "that are near-dups of any eval doc (source=src0). The eval postings "
    "broadcast, so the train corpus is never shuffled for candidate "
    "generation — the production leakage-check shape at 100 TB.",
)
def dd_eval_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("source") != "src0")
    ev = docs.filter(F.col("source") == "src0")
    pairs = dedup.contamination_against(train, ev, threshold=0.5, hashed=False)
    return pairs.select(
        "train_id", "eval_id", portable_round(F.col("jaccard"), 6).alias("jaccard")
    )


@register(
    "dd_bloom_decontam",
    oracle="""
    WITH sh AS (
        SELECT doc_id, source,
               CASE WHEN len(t) >= 3 THEN
                   list_distinct(list_transform(generate_series(1, len(t) - 2),
                       i -> array_to_string(t[i:i+2], ' ')))
               ELSE [array_to_string(t, ' ')] END AS grams
        FROM (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents)
    ), eg AS (
        SELECT DISTINCT unnest(grams) AS g FROM sh WHERE source = 'src0'
    ), tg AS (
        SELECT doc_id AS train_id, unnest(grams) AS g FROM sh WHERE source <> 'src0'
    )
    SELECT train_id, COUNT(*) AS n_hit_ngrams
    FROM tg JOIN eg USING (g)
    GROUP BY train_id
    """,
    doc="N-gram MEMBERSHIP decontamination (GPT-3/PaLM recipe: one shared "
    "verbatim 3-token n-gram flags the train doc) with a broadcast Bloom-"
    "bitmap prefilter evaluated inside the train scan, then an exact "
    "verify join that removes the bounded false positives — so the Bloom "
    "stage changes bytes shuffled, never results, and the whole pipeline "
    "stays oracle-checkable. Complements dd_eval_decontam (whole-doc "
    "Jaccard threshold) with the stricter form benchmarks actually use.",
)
def dd_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("source") != "src0")
    ev = docs.filter(F.col("source") == "src0")
    return dedup.bloom_decontaminate(train, ev)


@register(
    "dd_source_overlap",
    oracle=f"""
    WITH sh AS (
        SELECT source,
               CASE WHEN len(t) >= 3 THEN
                   list_distinct(list_transform(generate_series(1, len(t) - 2),
                       i -> array_to_string(t[i:i+2], ' ')))
               ELSE [array_to_string(t, ' ')] END AS grams
        FROM (SELECT source, string_split(text, ' ') AS t FROM documents)
    ),
    sg AS (SELECT DISTINCT source AS src, unnest(grams) AS g FROM sh),
    sizes AS (SELECT src, COUNT(*) AS n FROM sg GROUP BY src),
    shared AS (
        SELECT l.src AS source1, r.src AS source2, COUNT(*) AS shared_ngrams
        FROM sg l JOIN sg r ON l.g = r.g AND l.src < r.src
        GROUP BY 1, 2
    )
    SELECT source1, source2, shared_ngrams,
           {sql_round("shared_ngrams * 1.0 / LEAST(s1.n, s2.n)", 6)} AS containment
    FROM shared
    JOIN sizes s1 ON s1.src = source1
    JOIN sizes s2 ON s2.src = source2
    """,
    doc="Cross-source n-gram containment matrix: distinct shared 3-token "
    "n-grams and containment (shared / smaller source's gram count) for "
    "every source pair — the corpus-level mixture-design diagnostic (two "
    "'different' dumps with high containment add duplication, not "
    "diversity). Inverted-index join fan-out is bounded by sources^2 per "
    "gram, never corpus^2; the per-source size table broadcasts.",
)
def dd_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    res = dedup.source_overlap_matrix(docs)
    return res.select(
        "source1",
        "source2",
        "shared_ngrams",
        portable_round(F.col("containment"), 6).alias("containment"),
    )


@register(
    "dd_jaccard_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_jaccard_pairs_sql()}),
    edges AS (
        SELECT doc1 AS a, doc2 AS b FROM pairs
        UNION SELECT doc2, doc1 FROM pairs
    ),
    reach(node, r) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, re.r FROM edges e JOIN reach re ON e.b = re.node
    )
    SELECT component, COUNT(*) AS cluster_size,
           array_to_string(list_sort(list(node)), ',') AS members
    FROM (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
    GROUP BY 1
    """,
    doc="Duplicate-cluster resolution over EXACT jaccard pairs: iterative "
    "min-label propagation (llmops/clustering.py) oracle-checked against a "
    "DuckDB recursive-CTE transitive closure — the iterative fixpoint is "
    "verifiable because the candidate pairs are themselves exact.",
)
def dd_jaccard_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecommerce_etl_pipeline_spark.llmops.clustering import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_similarity_join(docs, threshold=0.5, hashed=False)
    comps = connected_components(pairs)
    members = F.transform(
        F.sort_array(F.collect_list("node")), lambda x: x.cast("string")
    )
    out = comps.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.array_join(members, ",").alias("members"),
    )
    return out


@register(
    "txt_dataset_card",
    oracle=f"""
    WITH per_doc AS (
        SELECT doc_id, source,
               len(string_split(text, ' ')) AS n_tokens,
               md5(text) AS h,
               1.0 / (1.0 + exp(-(-1.2
                   + 0.35 * ln(len(string_split(text, ' ')))
                   + -4.0 * (CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))
                             AS DOUBLE) / length(text))
                   + 2.5 * (CAST(len(list_filter(string_split(text, ' '),
                             x -> list_contains(['the','a','and','of','to','in','is'], x)))
                             AS DOUBLE) / len(string_split(text, ' ')))))) AS q
        FROM documents
    )
    SELECT COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS n_exact_dups,
           {sql_round("CAST(COUNT(*) - COUNT(DISTINCT h) AS DOUBLE) / COUNT(*)", 6)}
               AS dup_rate,
           CAST(COUNT(*) FILTER (WHERE {sql_round("q", 6)} >= 0.5) AS BIGINT)
               AS n_quality_pass,
           {sql_round("AVG(CAST(n_tokens AS DOUBLE))", 4)} AS mean_tokens
    FROM per_doc
    """,
    doc="Dataset card: the one-row corpus report published alongside a "
    "training set — document/token/source counts, exact-duplicate rate, "
    "learned-quality pass count (same rounded-score boundary as "
    "txt_quality_logit), mean length. One scan + one global aggregate; "
    "every input signal is an operator this engine already runs at scale, "
    "so the card costs one pass however big the corpus.",
)
def txt_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    q = portable_round(text.quality_logit_score(t), 6)
    return docs.select(
        "doc_id",
        "source",
        text.token_count(t).alias("n_tokens"),
        F.md5(t).alias("h"),
        q.alias("q"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.countDistinct("source").alias("n_sources"),
        (F.count(F.lit(1)) - F.countDistinct("h")).alias("n_exact_dups"),
        portable_round(
            (F.count(F.lit(1)) - F.countDistinct("h")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("dup_rate"),
        F.count(F.when(F.col("q") >= 0.5, 1)).alias("n_quality_pass"),
        portable_round(F.avg(F.col("n_tokens").cast("double")), 4).alias("mean_tokens"),
    )


@register(
    "sim_label_centroids",
    oracle=f"""
    WITH dims AS (
        SELECT e.label, t.d, SUM(CAST(e.embedding[t.d] AS DOUBLE)) AS sv
        FROM embeddings e, UNNEST(generate_series(1, len(e.embedding))) AS t(d)
        GROUP BY e.label, t.d
    ),
    norms AS (
        SELECT label, sqrt(SUM(sv * sv)) AS s2 FROM dims GROUP BY label
    ),
    stats AS (
        SELECT label, COUNT(*) AS n_members,
               AVG(list_sum(list_transform(generate_series(1, len(embedding)),
                   i -> CAST(embedding[i] AS DOUBLE)
                        * CAST(embedding[i] AS DOUBLE)))) AS mean_sq_norm
        FROM embeddings GROUP BY label
    )
    SELECT s.label, s.n_members,
           {sql_round("n.s2 / s.n_members", 4)} AS centroid_norm,
           {sql_round("sqrt(s.mean_sq_norm)", 4)} AS rms_vector_norm
    FROM stats s JOIN norms n USING (label)
    """,
    doc="Per-label embedding centroid statistics — the drift/quality "
    "monitor an embedding pipeline publishes per class or per snapshot: "
    "member counts, centroid L2 norm (from per-dimension sums — one "
    "map-side-combined label*dim-cell shuffle, the kmeans_step "
    "recomputation shape), and RMS vector norm. A centroid norm that "
    "drifts toward 0 means the label's vectors are dispersing; a moving "
    "RMS norm means the encoder changed. The driver never holds a "
    "vector.",
)
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    stats = emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.avg(sq).alias("mean_sq_norm"),
    )
    dims = (
        emb.select("label", F.posexplode("embedding").alias("d", "val"))
        .groupBy("label", "d")
        .agg(F.sum(F.col("val").cast("double")).alias("sv"))
        .groupBy("label")
        .agg(F.sqrt(F.sum(F.col("sv") * F.col("sv"))).alias("s2"))
    )
    return stats.join(dims, "label").select(
        "label",
        "n_members",
        portable_round(F.col("s2") / F.col("n_members"), 4).alias("centroid_norm"),
        portable_round(F.sqrt(F.col("mean_sq_norm")), 4).alias("rms_vector_norm"),
    )


_SEM_COS = (
    "list_sum(list_transform(generate_series(1, len(ea.embedding)), "
    "i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE))) "
    "/ (sqrt(list_sum(list_transform(generate_series(1, len(ea.embedding)), "
    "i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(ea.embedding[i] AS DOUBLE)))) "
    "* sqrt(list_sum(list_transform(generate_series(1, len(eb.embedding)), "
    "i -> CAST(eb.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)))))"
)


@register(
    "dd_semantic_dedup",
    oracle=f"""
    WITH RECURSIVE seeds AS (
        SELECT vec_id AS cid, embedding AS cvec
        FROM embeddings ORDER BY vec_id
        LIMIT (SELECT GREATEST(4, CAST(ceil(COUNT(*) / 125.0) AS BIGINT))
               FROM embeddings)
    ),
    scored AS (
        SELECT p.vec_id, s.cid,
               list_sum(list_transform(generate_series(1, len(p.embedding)),
                   i -> (CAST(p.embedding[i] AS DOUBLE) - CAST(s.cvec[i] AS DOUBLE))
                        * (CAST(p.embedding[i] AS DOUBLE) - CAST(s.cvec[i] AS DOUBLE))))
                   AS dist
        FROM embeddings p CROSS JOIN seeds s
    ),
    assigned AS (
        SELECT vec_id, cid AS cluster FROM (
            SELECT vec_id, cid, dist,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
            FROM scored
        ) WHERE rn = 1
    ),
    pairs AS (
        SELECT a.vec_id AS p1, b.vec_id AS p2
        FROM assigned a
        JOIN assigned b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id
        WHERE {_SEM_COS} >= 0.35
    ),
    edges AS (
        SELECT p1 AS a, p2 AS b FROM pairs UNION SELECT p2, p1 FROM pairs
    ),
    reach(node, r) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, re.r FROM edges e JOIN reach re ON e.b = re.node
    ),
    comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
    SELECT a.vec_id, a.cluster,
           (c.node IS NULL OR c.component = a.vec_id) AS kept
    FROM assigned a LEFT JOIN comp c ON c.node = a.vec_id
    """,
    doc="SemDeDup (Abbas et al. 2023) end-to-end: coarse-cluster the "
    "embedding space (deterministic lowest-id seed assignment; trained "
    "centroids swap in with the same plan), generate near-duplicate "
    "candidates WITHIN clusters only (pair cost sum(|cluster|^2), never "
    "corpus^2 — k scales with the corpus to bound cluster size), resolve "
    "cosine>=0.35 pairs to components, keep each component's min-id "
    "member (llmops/dedup.py::semantic_dedup). Oracle replays the whole "
    "pipeline in DuckDB including a recursive-CTE transitive closure.",
)
def dd_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup.semantic_dedup(emb, threshold=0.35)


def _lsh_topk_sql(dim: int = 64, n_planes: int = 8, seed: int = 42, k: int = 10) -> str:
    """DuckDB oracle for sim_lsh_topk: the seeded hyperplanes render as
    double literals (the _lsh_recall_sql machinery, single-table form), so
    DuckDB reproduces the exact sign-bit buckets, candidate join, and
    cosine ranking."""
    rows = ",\n               ".join(
        f"({i}, [{', '.join(repr(w) for w in plane)}])"
        for i, plane in enumerate(similarity._hyperplanes(dim, n_planes, seed))
    )
    dot_pw = (
        "list_sum(list_transform(generate_series(1, len(e.embedding)), "
        "i -> CAST(e.embedding[i] AS DOUBLE) * p.w[i]))"
    )
    cos_qc = (
        "list_sum(list_transform(generate_series(1, len(q.embedding)), "
        "i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) "
        "/ (sqrt(list_sum(list_transform(generate_series(1, len(q.embedding)), "
        "i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))) "
        "* sqrt(list_sum(list_transform(generate_series(1, len(c.embedding)), "
        "i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))))"
    )
    return f"""
    WITH planes(pid, w) AS (
        VALUES {rows}
    ),
    sig AS (
        SELECT e.vec_id,
               CAST(SUM(CASE WHEN {dot_pw} >= 0
                             THEN 1 << p.pid ELSE 0 END) AS BIGINT) AS bucket
        FROM embeddings e CROSS JOIN planes p
        GROUP BY e.vec_id
    ),
    cand AS (
        SELECT sq.vec_id AS query_id, sc.vec_id AS neighbor_id
        FROM sig sq
        JOIN sig sc ON sc.bucket = sq.bucket AND sc.vec_id != sq.vec_id
        WHERE sq.vec_id < 5
    ),
    scored AS (
        SELECT cand.query_id, cand.neighbor_id, {cos_qc} AS cos
        FROM cand
        JOIN embeddings q ON q.vec_id = cand.query_id
        JOIN embeddings c ON c.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id,
           {sql_round('cos', 6)} AS cosine,
           CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= {k}
    """


@register(
    "sim_lsh_topk",
    oracle=_lsh_topk_sql(),
    doc="Random-hyperplane LSH approximate top-k (8 planes = 256 buckets, "
    "sized for the testdata corpus; at larger corpora raise n_planes to "
    "keep buckets small). Oracle-checked since round 4 via the "
    "sim_lsh_recall planes-as-literals machinery (was rows-only): DuckDB "
    "reproduces identical buckets, candidates and cosine ranking, so the "
    "approximate result itself is verified — not just its recall.",
)
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    res = similarity.lsh_topk(emb, emb.filter(F.col("vec_id") < 5), k=10, n_planes=8)
    return res.select(
        "query_id",
        "neighbor_id",
        portable_round(F.col("cosine"), 6).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


def _lsh_recall_sql(
    dim: int = 64, n_planes: int = 6, n_tables: int = 16, seed: int = 42, k: int = 10
) -> str:
    """DuckDB oracle for sim_lsh_recall: re-derives the SAME seeded
    hyperplanes (table t uses seed+t) as double literals, recomputes
    per-table sign-bit buckets with the same sequential left-to-right
    dot-product summation Spark's ``F.aggregate`` fold uses, unions
    any-table collisions into the candidate set, and measures recall@k
    against the exact brute-force ranking — the full approximate-index
    quality check in SQL.
    """
    rows = ",\n               ".join(
        f"({t}, {i}, [{', '.join(repr(w) for w in plane)}])"
        for t in range(n_tables)
        for i, plane in enumerate(similarity._hyperplanes(dim, n_planes, seed + t))
    )
    dot_pw = (
        "list_sum(list_transform(generate_series(1, len(e.embedding)), "
        "i -> CAST(e.embedding[i] AS DOUBLE) * p.w[i]))"
    )
    cos_qc = (
        "list_sum(list_transform(generate_series(1, len(q.embedding)), "
        "i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) "
        "/ (sqrt(list_sum(list_transform(generate_series(1, len(q.embedding)), "
        "i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))) "
        "* sqrt(list_sum(list_transform(generate_series(1, len(c.embedding)), "
        "i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))))"
    )
    return f"""
    WITH planes(tid, pid, w) AS (
        VALUES {rows}
    ),
    sig AS (
        SELECT e.vec_id, p.tid,
               CAST(SUM(CASE WHEN {dot_pw} >= 0 THEN 1 << p.pid ELSE 0 END)
                    AS BIGINT) AS bucket
        FROM embeddings e CROSS JOIN planes p
        GROUP BY e.vec_id, p.tid
    ),
    cand AS (
        SELECT DISTINCT sq.vec_id AS query_id, sc.vec_id AS neighbor_id
        FROM sig sq
        JOIN sig sc ON sc.tid = sq.tid AND sc.bucket = sq.bucket
                   AND sc.vec_id != sq.vec_id
        WHERE sq.vec_id < 5
    ),
    approx AS (
        SELECT query_id, neighbor_id FROM (
            SELECT cand.query_id, cand.neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY cand.query_id
                                      ORDER BY {cos_qc} DESC, cand.neighbor_id) AS rn
            FROM cand
            JOIN embeddings q ON q.vec_id = cand.query_id
            JOIN embeddings c ON c.vec_id = cand.neighbor_id
        ) WHERE rn <= {k}
    ),
    bf AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                      ORDER BY {cos_qc} DESC, c.vec_id) AS rn
            FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
            WHERE q.vec_id < 5
        ) WHERE rn <= {k}
    )
    SELECT bf.query_id,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS hits,
           CAST(COUNT(a.neighbor_id) AS DOUBLE) / {k} AS recall
    FROM bf LEFT JOIN approx a
      ON a.query_id = bf.query_id AND a.neighbor_id = bf.neighbor_id
    GROUP BY bf.query_id
    """


@register(
    "sim_lsh_recall",
    oracle=_lsh_recall_sql(),
    doc="Recall@10 of the multi-table LSH index (16 tables x 6 planes) vs "
    "the exact brute-force ranking, per query — quantifies the candidate-"
    "generation quality the index trades for its bucketed (non-quadratic) "
    "shuffle. Fully oracle-checked: the seeded hyperplanes are re-derived "
    "as SQL literals so DuckDB reproduces identical buckets, ranking, and "
    "recall. The testdata embeddings are near-isotropic (top-10 cosine "
    "~0.3 vs 0.0±0.13 background) — the worst case for angular LSH — so "
    "the measured recall here is a floor; clustered real embeddings "
    "separate far better (see tests/test_similarity_recall.py).",
)
def sim_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_recall(
        emb, emb.filter(F.col("vec_id") < 5), k=10, n_planes=6, n_tables=16
    )


@register(
    "mm_asset_features",
    oracle="""
    WITH img AS (
        SELECT doc_id, 8 + doc_id % 8 AS w, 6 + doc_id % 6 AS h
        FROM documents WHERE doc_id % 2 = 0
    ),
    img_bytes AS (
        SELECT doc_id, w, h, unnest(range(0, 3 * w * h)) AS i FROM img
    ),
    img_feat AS (
        SELECT doc_id, w, h,
               CAST(SUM(CASE WHEN i % 3 = 0 THEN (doc_id * 7 + i * 13) % 256 END)
                    AS BIGINT) AS sum_r,
               CAST(SUM(CASE WHEN i % 3 = 1 THEN (doc_id * 7 + i * 13) % 256 END)
                    AS BIGINT) AS sum_g,
               CAST(SUM(CASE WHEN i % 3 = 2 THEN (doc_id * 7 + i * 13) % 256 END)
                    AS BIGINT) AS sum_b
        FROM img_bytes GROUP BY doc_id, w, h
    ),
    aud AS (
        SELECT doc_id, 64 + doc_id % 64 AS n
        FROM documents WHERE doc_id % 2 = 1
    ),
    aud_samples AS (
        SELECT doc_id, n, unnest(range(0, n)) AS j FROM aud
    ),
    aud_feat AS (
        SELECT doc_id, n,
               CAST(SUM((doc_id * 31 + j * 17) % 65536 - 32768) AS BIGINT) AS sum_amp,
               CAST(SUM(((doc_id * 31 + j * 17) % 65536 - 32768)
                        * ((doc_id * 31 + j * 17) % 65536 - 32768)) AS BIGINT)
                   AS sum_sq_amp
        FROM aud_samples GROUP BY doc_id, n
    )
    SELECT doc_id AS asset_id, 'image' AS media_type,
           CAST(9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR))
                + 3 * w * h AS BIGINT) AS n_bytes,
           CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
           sum_r, sum_g, sum_b,
           CAST(NULL AS INTEGER) AS n_samples,
           CAST(NULL AS BIGINT) AS sum_amp, CAST(NULL AS BIGINT) AS sum_sq_amp
    FROM img_feat
    UNION ALL
    SELECT doc_id, 'audio', CAST(44 + 2 * n AS BIGINT),
           NULL, NULL, NULL, NULL, NULL,
           CAST(n AS INTEGER), sum_amp, sum_sq_amp
    FROM aud_feat
    """,
    doc="REAL multimodal decode: documents -> deterministic well-formed "
    "PPM/WAV containers (encoded in-batch) -> magic-byte sniff -> actual "
    "header/raster/PCM parsing -> exact integer pixel-channel and "
    "amplitude statistics (llmops/multimodal.py::decode_features). The "
    "oracle recomputes every statistic in closed form from the fixture "
    "contract, so any decoder mis-parse (header offset, endianness, "
    "channel interleave) hash-mismatches. Arrow-batched mapInPandas is "
    "the sanctioned Python boundary; scale shape is scan-side only.",
)
def mm_asset_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    assets = multimodal.synthesize_media_assets(docs)
    return multimodal.decode_features(assets)


@register(
    "mm_png_decode",
    oracle="""
    WITH img AS (
        SELECT doc_id, 8 + doc_id % 8 AS w, 6 + doc_id % 6 AS h
        FROM documents
    ),
    img_bytes AS (
        SELECT doc_id, w, h, unnest(range(0, 3 * w * h)) AS i FROM img
    )
    SELECT doc_id AS asset_id,
           CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
           CAST(SUM(CASE WHEN i % 3 = 0 THEN (doc_id * 7 + i * 13) % 256 END)
                AS BIGINT) AS sum_r,
           CAST(SUM(CASE WHEN i % 3 = 1 THEN (doc_id * 7 + i * 13) % 256 END)
                AS BIGINT) AS sum_g,
           CAST(SUM(CASE WHEN i % 3 = 2 THEN (doc_id * 7 + i * 13) % 256 END)
                AS BIGINT) AS sum_b
    FROM img_bytes GROUP BY doc_id, w, h
    """,
    doc="REAL PNG decode: every document becomes an 8-bit RGB PNG "
    "(stdlib zlib deflate, scanline filter doc_id % 5 — one corpus "
    "exercises None/Sub/Up/Average/Paeth), then decode_features sniffs "
    "the signature, verifies chunk CRCs, inflates, reverses the filters, "
    "and emits exact per-channel pixel sums "
    "(llmops/multimodal.py::decode_png). The oracle recomputes the "
    "statistics in closed form from the fixture contract, so any "
    "unfilter/inflate mis-step hash-mismatches. n_bytes is deliberately "
    "not exposed: it depends on zlib's compressed size, which has no "
    "closed form. Scale shape: scan-side only, no shuffle.",
)
def mm_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    assets = multimodal.synthesize_png_assets(docs)
    return multimodal.decode_features(assets).select(
        "asset_id", "width", "height", "sum_r", "sum_g", "sum_b"
    )


@register(
    "txt_chunk_overlap",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n
        FROM documents
    ),
    c AS (
        SELECT doc_id, toks, n,
               unnest(range(0, GREATEST(1,
                   CAST(ceil((n - 8) / 24.0) AS BIGINT)))) AS i
        FROM t
    )
    SELECT doc_id, CAST(i AS INTEGER) AS chunk_index,
           array_to_string(toks[i * 24 + 1 : i * 24 + 32], ' ') AS chunk_text,
           CAST(LEAST(32, n - i * 24) AS INTEGER) AS n_chunk_tokens
    FROM c
    """,
    doc="RAG/context-window chunking (llmops/text.py::chunk_structs): "
    "fixed 32-token chunks with 8-token overlap (stride 24), final chunk "
    "short, sub-size documents yield one chunk. Narrow transform + "
    "explode — scan-side only, no shuffle; output is ~n/stride rows per "
    "document at any corpus size.",
)
def txt_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # widen the single-row-group scan before the interpreted chunk/segment HOFs (see txt_winnow_fingerprints)
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", F.explode(text.chunk_structs(F.col("text"))).alias("c")
    ).select("doc_id", "c.chunk_index", "c.chunk_text", "c.n_chunk_tokens")


@register(
    "txt_shard_manifest",
    oracle=f"""
    WITH sharded AS (
        SELECT doc_id, source,
               len(string_split(text, ' ')) AS n_tokens,
               {splits.sql_hash_uint32("doc_id", "shard:v1")} % 16 AS shard
        FROM documents
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM sharded GROUP BY shard
    """,
    doc="Deterministic training-shard assignment + manifest "
    "(llmops/splits.py::hash_uint32): every document lands in one of 16 "
    "shards by portable md5 hash — reproducible across engines and runs "
    "with no sampling state — and the manifest aggregates per-shard "
    "document/token counts and id ranges, the bookkeeping a dataloader "
    "needs before touching bytes. One map-side-combined shuffle on the "
    "shard key; md5-uniform shards mean no skew at any corpus size.",
)
def txt_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sharded = docs.select(
        "doc_id",
        "source",
        text.token_count(F.col("text")).alias("n_tokens"),
        F.pmod(splits.hash_uint32(F.col("doc_id"), "shard:v1"), F.lit(16)).alias("shard"),
    )
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        F.countDistinct("source").alias("n_sources"),
    )


@register(
    "ml_kmeans_step",
    oracle=f"""
    WITH seeds AS (
        SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 4
    ),
    scored AS (
        SELECT p.vec_id, s.cid,
               list_sum(list_transform(generate_series(1, len(p.embedding)),
                   i -> (CAST(p.embedding[i] AS DOUBLE) - CAST(s.cvec[i] AS DOUBLE))
                        * (CAST(p.embedding[i] AS DOUBLE) - CAST(s.cvec[i] AS DOUBLE))))
                   AS dist
        FROM embeddings p CROSS JOIN seeds s
    ),
    assigned AS (
        SELECT vec_id, cid, dist FROM (
            SELECT vec_id, cid, dist,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
            FROM scored
        ) WHERE rn = 1
    ),
    dims AS (
        SELECT a.cid, t.d, SUM(CAST(e.embedding[t.d] AS DOUBLE)) AS sv
        FROM assigned a
        JOIN embeddings e USING (vec_id),
        UNNEST(generate_series(1, len(e.embedding))) AS t(d)
        GROUP BY a.cid, t.d
    ),
    norms AS (
        SELECT cid, sqrt(SUM(sv * sv)) AS s2 FROM dims GROUP BY cid
    ),
    stats AS (
        SELECT cid, COUNT(*) AS n_members, AVG(dist) AS avg_dist
        FROM assigned GROUP BY cid
    )
    SELECT s.cid AS cluster, s.n_members,
           {sql_round("s.avg_dist", 4)} AS avg_dist,
           {sql_round("n.s2 / s.n_members", 4)} AS centroid_norm
    FROM stats s JOIN norms n USING (cid)
    """,
    doc="One Lloyd iteration of k-means as a pure DataFrame plan "
    "(llmops/clustering.py::kmeans_step): nearest-centroid assignment "
    "against 4 seed vectors (squared Euclidean, ties to lowest centroid "
    "id) and per-cluster recomputation — member count, mean assignment "
    "distance, recomputed-centroid L2 norm derived from per-dimension "
    "sums. Scale shape: k seed rows broadcast, one corpus scan, one "
    "map-side-combined k*dim-cell shuffle; the driver never holds a "
    "vector. ml_kmeans_train iterates this loop.",
)
def ml_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    out = clustering.kmeans_step(emb, seeds)
    return out.select(
        "cluster",
        "n_members",
        portable_round(F.col("avg_dist"), 4).alias("avg_dist"),
        portable_round(F.col("centroid_norm"), 4).alias("centroid_norm"),
    )


def _kmeans_ctes(k: int = 4, iterations: int = 5, nano: int = 10**9) -> str:
    """WITH-prefix of the unrolled Lloyd replay in DuckDB: because
    kmeans_train_portable's centroid updates are integer nano-sums divided
    in IEEE doubles and its iteration count is fixed, each round unrolls
    into assignment + update CTEs; the distance list_sum replays the
    Spark fold left-to-right (ml_kmeans_step's proven parity). Ends with
    ``vf`` (cid, cvec — final centroids) and ``af`` (vec_id, cid, dist —
    final nearest-centroid assignment of the whole corpus); shared by
    ml_kmeans_train and the portable-IVF oracles."""
    dist = (
        "list_sum(list_transform(generate_series(1, len(p.embedding)), "
        "i -> (CAST(p.embedding[i] AS DOUBLE) - v.cvec[i]) "
        "* (CAST(p.embedding[i] AS DOUBLE) - v.cvec[i])))"
    )
    its = []
    for t in range(1, iterations + 1):
        its.append(f"""
    v{t} AS (SELECT cid, list(c ORDER BY d) AS cvec FROM c{t - 1} GROUP BY cid),
    a{t} AS (
        SELECT vec_id, cid FROM (
            SELECT p.vec_id, v.cid,
                   ROW_NUMBER() OVER (PARTITION BY p.vec_id
                                      ORDER BY {dist}, v.cid) AS rn
            FROM embeddings p CROSS JOIN v{t} v
        ) WHERE rn = 1
    ),
    u{t} AS (
        SELECT a.cid, t.d,
               (CAST(SUM(CAST(FLOOR(CAST(e.embedding[t.d] AS DOUBLE) * {nano} + 0.5)
                              AS BIGINT)) AS DOUBLE)
                / COUNT(*)) / {nano} AS c
        FROM a{t} a JOIN embeddings e USING (vec_id),
             UNNEST(generate_series(1, len(e.embedding))) AS t(d)
        GROUP BY a.cid, t.d
    ),
    c{t} AS (
        SELECT p.cid, p.d, COALESCE(u.c, p.c) AS c
        FROM c{t - 1} p LEFT JOIN u{t} u ON u.cid = p.cid AND u.d = p.d
    )""")
    return f"""
    WITH seeds0 AS (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid
        FROM embeddings ORDER BY vec_id LIMIT {k}
    ),
    c0 AS (
        SELECT s.cid, t.d, CAST(e.embedding[t.d] AS DOUBLE) AS c
        FROM seeds0 s JOIN embeddings e USING (vec_id),
             UNNEST(generate_series(1, len(e.embedding))) AS t(d)
    ),{",".join(its)},
    vf AS (SELECT cid, list(c ORDER BY d) AS cvec FROM c{iterations} GROUP BY cid),
    af AS (
        SELECT vec_id, cid, dist FROM (
            SELECT p.vec_id, v.cid, {dist} AS dist,
                   ROW_NUMBER() OVER (PARTITION BY p.vec_id
                                      ORDER BY {dist}, v.cid) AS rn
            FROM embeddings p CROSS JOIN vf v
        ) WHERE rn = 1
    )"""


def _kmeans_train_oracle_sql(k: int = 4, iterations: int = 5, nano: int = 10**9) -> str:
    return f"""
    {_kmeans_ctes(k, iterations, nano)}
    SELECT CAST(cid AS INTEGER) AS cluster, COUNT(*) AS n_members,
           {sql_round("AVG(dist)", 4)} AS avg_dist,
           CAST({iterations} AS INTEGER) AS iterations
    FROM af GROUP BY cid
    """


@register(
    "ml_kmeans_train",
    oracle=_kmeans_train_oracle_sql(),
    doc="Full Lloyd's k-means as a DataFrame loop "
    "(llmops/clustering.py::kmeans_train_portable): deterministic "
    "lowest-id seeds, per-round nearest-centroid assignment against "
    "literal centroids, centroid recomputation from one k*dim-cell "
    "aggregate (the only driver-side state is the centroid matrix — "
    "hyperparameter-sized, like a join statistic). Oracle-checked: "
    "member sums are nano-quantized INTEGERS (order-independent) "
    "and the iteration count is fixed, so five Lloyd rounds unroll into "
    "DuckDB CTEs and the whole training run replays bit-for-bit — the "
    "pagerank_portable doctrine applied to a centroid trainer. Inertia "
    "is pytest-gated as non-increasing per round and within 10% of "
    "pyspark.ml's KMeans.",
)
def ml_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = clustering.kmeans_train_portable(emb, k=4, iterations=5)
    seeds = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)], "cid INT, cvec ARRAY<DOUBLE>"
    )
    out = clustering.kmeans_step(emb, seeds)
    return out.select(
        "cluster",
        "n_members",
        portable_round(F.col("avg_dist"), 4).alias("avg_dist"),
        F.lit(5).alias("iterations"),
    )


# the ±1 projection matrix is derived once and rendered into BOTH the Spark
# plan and the oracle SQL as exact literals (same trick as sim_lsh_recall's
# re-derived hyperplanes). dim=64 is the testdata embedding width; the
# Spark side derives it from the data, so a width change hash-mismatches
# loudly here instead of silently diverging.
_RP_VALUES = ", ".join(
    f"({j}, [{', '.join(str(x) for x in row)}])"
    for j, row in enumerate(similarity._rp_matrix(64, 16, 42))
)


@register(
    "sim_rp_topk",
    oracle=f"""
    WITH m(j, r) AS (VALUES {_RP_VALUES}),
    pv AS (
        SELECT e.vec_id,
               list(list_sum(list_transform(generate_series(1, len(e.embedding)),
                        i -> CAST(e.embedding[i] AS DOUBLE) * m.r[i]))
                    ORDER BY m.j) AS p
        FROM embeddings e CROSS JOIN m
        GROUP BY e.vec_id
    ),
    q AS (SELECT vec_id AS query_id, p AS qp FROM pv WHERE vec_id < 5),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               list_sum(list_transform(generate_series(1, 16), i -> q.qp[i] * c.p[i]))
               / (sqrt(list_sum(list_transform(generate_series(1, 16),
                                i -> q.qp[i] * q.qp[i])))
                  * sqrt(list_sum(list_transform(generate_series(1, 16),
                                i -> c.p[i] * c.p[i])))) AS cos
        FROM q, pv c WHERE c.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id,
           {{round}} AS cosine,
           CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 10
    """.format(round=sql_round("cos", 6)),
    doc="Cosine top-10 in a 64->16 random-projection sketch space "
    "(llmops/similarity.py::rp_topk): seeded ±1 Achlioptas rows rendered "
    "as exact literals in both engines, so projected scores are "
    "bit-reproducible and fully oracle-checkable. The "
    "dimensionality-reduction ANN path: 4x less shuffle/cache/arithmetic "
    "per pair, JL-preserved angles for candidate generation, exact "
    "full-dim re-rank of the k survivors as the follow-up stage "
    "(recall measured in tests/test_llmops_algos.py).",
)
def sim_rp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    res = similarity.rp_topk(emb, emb.filter(F.col("vec_id") < 5), out_dim=16, k=10)
    return res.select(
        "query_id",
        "neighbor_id",
        portable_round(F.col("cosine"), 6).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


_RP32_VALUES = ", ".join(
    f"({j}, [{', '.join(str(x) for x in row)}])"
    for j, row in enumerate(similarity._rp_matrix(64, 32, 42))
)

_EXACT_COS = (
    "list_sum(list_transform(generate_series(1, len(ea.embedding)), "
    "i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE))) "
    "/ (sqrt(list_sum(list_transform(generate_series(1, len(ea.embedding)), "
    "i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(ea.embedding[i] AS DOUBLE)))) "
    "* sqrt(list_sum(list_transform(generate_series(1, len(eb.embedding)), "
    "i -> CAST(eb.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)))))"
)


@register(
    "sim_rp_rerank",
    oracle=f"""
    WITH m(j, r) AS (VALUES {{rp32}}),
    pv AS (
        SELECT e.vec_id,
               list(list_sum(list_transform(generate_series(1, len(e.embedding)),
                        i -> CAST(e.embedding[i] AS DOUBLE) * m.r[i]))
                    ORDER BY m.j) AS p
        FROM embeddings e CROSS JOIN m
        GROUP BY e.vec_id
    ),
    q AS (SELECT vec_id AS query_id, p AS qp FROM pv WHERE vec_id < 5),
    beam AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY list_sum(list_transform(generate_series(1, 32),
                                    i -> q.qp[i] * c.p[i]))
                                / (sqrt(list_sum(list_transform(generate_series(1, 32),
                                         i -> q.qp[i] * q.qp[i])))
                                   * sqrt(list_sum(list_transform(generate_series(1, 32),
                                         i -> c.p[i] * c.p[i])))) DESC,
                                c.vec_id) AS rn
            FROM q, pv c WHERE c.vec_id != q.query_id
        ) WHERE rn <= 100
    ),
    exact AS (
        SELECT b.query_id, b.neighbor_id, {{exact_cos}} AS cos
        FROM beam b
        JOIN embeddings ea ON ea.vec_id = b.query_id
        JOIN embeddings eb ON eb.vec_id = b.neighbor_id
    )
    SELECT query_id, neighbor_id,
           {{round}} AS cosine,
           CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rn
          FROM exact)
    WHERE rn <= 10
    """.format(rp32=_RP32_VALUES, exact_cos=_EXACT_COS, round=sql_round("cos", 6)),
    doc="Two-stage ANN at its production operating point "
    "(llmops/similarity.py::rp_rerank_topk): 64->32 random-projection "
    "beam search (measured 0.86 candidate recall at beam 100 — see "
    "rp_topk's curve) keeps 100 candidates per query from ONE cheap "
    "sketch-space corpus scan, then exact full-dimension cosines re-rank "
    "only |q| x beam pairs into the top-10. Both stages are "
    "deterministic, so the entire pipeline — projection literals, beam "
    "cut, exact re-rank — replays bit-for-bit in the DuckDB oracle.",
)
def sim_rp_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    res = similarity.rp_rerank_topk(
        emb, emb.filter(F.col("vec_id") < 5), out_dim=32, beam=100, k=10
    )
    return res.select(
        "query_id",
        "neighbor_id",
        portable_round(F.col("cosine"), 6).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


_COS_SQL = (
    "list_sum(list_transform(generate_series(1, len(a.embedding)), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) "
    "/ (sqrt(list_sum(list_transform(generate_series(1, len(a.embedding)), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)))) "
    "* sqrt(list_sum(list_transform(generate_series(1, len(b.embedding)), "
    "i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))))"
)


@register(
    "sim_pq_rerank",
    oracle=None,  # the index build embeds a trained product quantizer:
    # 8 per-subspace k-means trainers (iterative, lowest-id-seeded) have
    # no single-statement SQL replay — correctness is pinned instead by
    # pytest (deterministic training, bounded codes, recall floor vs the
    # oracle-checked brute force, bit-exact stage-2 cosines):
    # tests/test_similarity_recall.py. Rows-only check, the sketch-query
    # precedent.
    doc="Product-quantization ANN at its production operating point (ADC "
    "beam + exact re-rank): per-subspace codebooks trained by the "
    "portable k-means (m x k x dim/m floats of bounded driver state), "
    "every corpus vector encoded ONCE into m small int codes — 64-dim "
    "float32 = 256 bytes collapses to ~8 bytes + id, so the query-time "
    "scan reads ~32x fewer bytes and never touches the vector column "
    "(per-query lookup tables ride in as literals). The memory-"
    "compression leg of the ANN suite (brute/LSH/RP/int8/IVF/PQ); "
    "compose with IVF cells for sub-linear candidates at 100 TB. "
    "llmops/similarity.py::pq_train/pq_topk/pq_rerank_topk.",
)
def sim_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    books = similarity.pq_train(emb, m=8, k=16, max_iterations=4)
    return similarity.pq_rerank_topk(
        emb, emb.filter(F.col("vec_id") < 5), books, beam=100, k=10
    )


@register(
    "sim_ivfpq_rerank",
    oracle=None,  # rows-only: both index stages embed trained quantizers
    # (coarse k-means cells + per-subspace PQ codebooks); pytest pins the
    # composition's determinism, recall floor, and stage-3 exactness
    # (tests/test_similarity_recall.py).
    doc="IVF+PQ — the production ANN composition (FAISS IVFPQ): coarse "
    "cells from the oracle-proven portable k-means give SUB-LINEAR "
    "candidates (corpus * n_probe / n_cells per query), PQ ADC ranks "
    "inside the probed cells reading only the ~8-byte code columns, and "
    "the beam re-ranks with exact cosines. One fused write-side index "
    "pass (id, cell, m codes); probe sets and LUTs ride in as literals. "
    "llmops/similarity.py::ivfpq_topk.",
)
def sim_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    books = similarity.pq_train(emb, m=8, k=16, max_iterations=4)
    return similarity.ivfpq_topk(
        emb,
        emb.filter(F.col("vec_id") < 5),
        books,
        n_cells=16,
        n_probe=4,
        beam=100,
        k=10,
    )


# ---------------------------------------------------------------------------
# sim_pq_adc_topk (round 13, VERDICT r12 brief #5): puts the driver's
# hash behind the PQ ENCODE + ADC + RANK legs — the heaviest rows-only
# ANN path — by fixing the quantizer at its deterministic seed state
# (max_iterations=0: codebook j = unit-subvectors of the 16 lowest-id
# corpus rows, pure data selection, no FP-order-sensitive k-means means)
# so the ENTIRE pipeline unrolls into DuckDB CTEs. Bit-parity chain:
# unit vectors via the certified list_sum fold (the cosine precedent),
# code assignment by the PQ encode kernel (its sequential sub-distance
# accumulation is DuckDB list_sum's op sequence; pinned vs the raw DuckDB
# replay),
# ADC via Python-sequential LUT sums == the oracle's per-subspace folds,
# raw-double ordering with id tiebreak (the certified-cosine exception).
# The TRAINED operating point stays covered by sim_pq_rerank /
# sim_ivfpq_rerank (recall- and determinism-pinned rows-only).
# ---------------------------------------------------------------------------
_ADC_M, _ADC_KCB, _ADC_SUB = 8, 16, 8
_ADC_UNIT = """
    uv AS (
        SELECT vec_id,
               CASE WHEN list_sum(list_transform(embedding,
                         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) = 0
                    THEN list_transform(embedding, x -> CAST(x AS DOUBLE))
                    ELSE list_transform(embedding, x -> CAST(x AS DOUBLE) /
                         sqrt(list_sum(list_transform(embedding,
                              y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))))
               END AS v
        FROM embeddings
    )
"""


def _adc_term(j: int) -> str:
    """Fold-exact squared L2 between query subspace j and the seed row
    joined as alias s{j} — the same expression shape list_sum certifies
    in the cosine oracles (sequential fold == the JVM/Python sums)."""
    off = j * _ADC_SUB
    return (
        f"list_sum(list_transform(generate_series(1, {_ADC_SUB}), "
        f"i -> (q.v[{off} + i] - s{j}.sv[{off} + i]) "
        f"* (q.v[{off} + i] - s{j}.sv[{off} + i])))"
    )


_ADC_CODE_COLS = ", ".join(
    f"MAX(CASE WHEN j = {j} THEN code END) AS c{j}" for j in range(_ADC_M)
)
_ADC_SEED_JOINS = "\n        ".join(
    f"JOIN seeds s{j} ON s{j}.sid = t.c{j}" for j in range(_ADC_M)
)
_ADC_DIST = " + ".join(_adc_term(j) for j in range(_ADC_M))


@register(
    "sim_pq_adc_topk",
    oracle=f"""
    WITH {_ADC_UNIT},
    seeds AS (SELECT vec_id AS sid, v AS sv FROM uv WHERE vec_id < {_ADC_KCB}),
    subdist AS (
        SELECT u.vec_id, jj.j, s.sid,
               list_sum(list_transform(generate_series(1, {_ADC_SUB}),
                   i -> (u.v[jj.j * {_ADC_SUB} + i] - s.sv[jj.j * {_ADC_SUB} + i])
                      * (u.v[jj.j * {_ADC_SUB} + i] - s.sv[jj.j * {_ADC_SUB} + i]))) AS d2
        FROM uv u
        CROSS JOIN (SELECT unnest(generate_series(0, {_ADC_M - 1})) AS j) jj
        CROSS JOIN seeds s
    ),
    codes AS (
        SELECT vec_id, {_ADC_CODE_COLS}
        FROM (SELECT vec_id, j, sid AS code,
                     ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                        ORDER BY d2, sid) AS rn
              FROM subdist)
        WHERE rn = 1
        GROUP BY vec_id
    ),
    q AS (SELECT vec_id AS query_id, v FROM uv WHERE vec_id < 5),
    scored AS (
        SELECT q.query_id, t.vec_id AS neighbor_id,
               {_ADC_DIST} AS adc_dist
        FROM codes t
        CROSS JOIN q
        {_ADC_SEED_JOINS}
        WHERE t.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, {sql_round('adc_dist', 6)} AS adc_dist,
           CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY adc_dist, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 10
    """,
    doc="Oracle-backed PQ ADC top-10 (r13, VERDICT r12 brief #5 — rows-"
    "only tail 7 -> 6): seeds-only codebooks (m=8, k=16, 0 k-means "
    "iterations — unit-subvectors of the 16 lowest-id rows, exact data "
    "selection) so encode, per-query LUTs, ADC sums and ranking all "
    "replay in single-statement SQL; the corpus scan reads only the m "
    "int codes (the 32x narrower ADC scan). The encode runs the PQ "
    "encode kernel sim_pq_rerank ships: its sequential-accumulation "
    "inner sum is DuckDB list_sum's op sequence (pinned bit-exact vs the "
    "raw DuckDB replay in tests/test_similarity_recall.py). Ordering by "
    "raw fold-identical doubles with id tiebreak (the certified-cosine "
    "exception). llmops/similarity.py::pq_train(max_iterations=0)/pq_topk.",
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    books = similarity.pq_train(
        emb, m=_ADC_M, k=_ADC_KCB, max_iterations=0
    )
    res = similarity.pq_topk(
        emb, emb.filter(F.col("vec_id") < 5), books, k=10
    )
    return res.select(
        "query_id",
        "neighbor_id",
        portable_round(F.col("adc_dist"), 6).alias("adc_dist"),
        F.col("rank").cast("int").alias("rank"),
    )


@register(
    "dd_embedding_neardup",
    oracle=f"""
    SELECT a.vec_id AS id1, b.vec_id AS id2,
           {sql_round(_COS_SQL, 6)} AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.vec_id < b.vec_id AND a.vec_id < 200 AND b.vec_id < 200
    WHERE {_COS_SQL} >= 0.5
    """,
    doc="Embedding-cosine near-duplicate pairs (the 5th dedup modality): "
    "exact all-pairs on a bounded id range as the oracle-checkable core; "
    "the unbounded form routes candidates through sim_lsh_topk / "
    "sim_ivf_topk bucketing instead of a cross join.",
)
def dd_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    a = emb.select(F.col("vec_id").alias("id1"), F.col("embedding").alias("e1"))
    b = emb.select(F.col("vec_id").alias("id2"), F.col("embedding").alias("e2"))
    cos = similarity.cosine(F.col("e1"), F.col("e2"))
    return (
        a.join(F.broadcast(b), F.col("id1") < F.col("id2"))
        .withColumn("_cos", cos)
        .filter(F.col("_cos") >= 0.5)
        .select("id1", "id2", portable_round(F.col("_cos"), 6).alias("cosine"))
    )


@register(
    "dd_dup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_minhash_pairs_sql()}),
    edges AS (
        SELECT doc1 AS a, doc2 AS b FROM pairs
        UNION SELECT doc2, doc1 FROM pairs
    ),
    reach(node, r) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, re.r FROM edges e JOIN reach re ON e.b = re.node
    )
    SELECT component, COUNT(*) AS cluster_size,
           array_to_string(list_sort(list(node)), ',') AS members
    FROM (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
    GROUP BY 1
    """,
    doc="Duplicate-cluster resolution: near-dup pairs (MinHash, the "
    "md5-portable variant) -> connected components via iterative min-label "
    "propagation, oracle-checked against a DuckDB recursive-CTE transitive "
    "closure over the SAME portable banding (the dd_jaccard_clusters "
    "pattern; was rows-only through round 3 when the banding hashes were "
    "not SQL-replayable).",
)
def dd_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecommerce_etl_pipeline_spark.llmops.clustering import connected_components

    docs = load_table(spark, sf_dir, "documents")
    cand = dedup.minhash_candidate_pairs(docs, portable=True)
    pairs = cand.filter(F.col("jaccard") >= 0.5)
    comps = connected_components(pairs)
    members = F.transform(
        F.sort_array(F.collect_list("node")), lambda x: x.cast("string")
    )
    out = comps.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.array_join(members, ",").alias("members"),
    )
    return out


# ---------------------------------------------------------------------------
# Portable IVF: the coarse quantizer is kmeans_train_portable, so the
# ENTIRE index build — centroid training, cell assignment, probe
# selection, candidate ranking — replays in DuckDB on top of the shared
# _kmeans_ctes prefix; recall is gated in tests/test_similarity_recall.py.
# ---------------------------------------------------------------------------
_IVF_CELLS, _IVF_PROBE, _IVF_ITER, _IVF_K = 16, 2, 5, 10
_IVF_DISTQ = (
    "list_sum(list_transform(generate_series(1, len(q.qv)), "
    "i -> (CAST(q.qv[i] AS DOUBLE) - v.cvec[i]) "
    "* (CAST(q.qv[i] AS DOUBLE) - v.cvec[i])))"
)
_IVF_COS = """
               list_sum(list_transform(generate_series(1, len(e.embedding)),
                        i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(generate_series(1, len(q.qv)),
                        i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)),
                        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))))
"""
_IVF_WITH = _kmeans_ctes(_IVF_CELLS, _IVF_ITER) + f""",
    q AS (
        SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
    ),
    probes AS (
        SELECT query_id, cell FROM (
            SELECT q.query_id, v.cid AS cell,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                                      ORDER BY {_IVF_DISTQ}, v.cid) AS rn
            FROM q CROSS JOIN vf v
        ) WHERE rn <= {_IVF_PROBE}
    ),
    ivf_scored AS (
        SELECT q.query_id, a.vec_id AS neighbor_id, {_IVF_COS} AS cos
        FROM probes p
        JOIN q USING (query_id)
        JOIN af a ON a.cid = p.cell AND a.vec_id != q.query_id
        JOIN embeddings e ON e.vec_id = a.vec_id
    ),
    ivf_ranked AS (
        SELECT query_id, neighbor_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rn
        FROM ivf_scored
    )"""


@register(
    "sim_ivf_topk",
    oracle=_IVF_WITH + f"""
    SELECT query_id, neighbor_id, {sql_round('cos', 6)} AS cosine,
           CAST(rn AS INTEGER) AS rank
    FROM ivf_ranked WHERE rn <= {_IVF_K}
    """,
    doc="IVF approximate top-k on the PORTABLE coarse quantizer "
    "(clustering.ivf_topk_portable): kmeans_train_portable trains 16 "
    "cells (integer-nano Lloyd, deterministic lowest-id seeds), every "
    "corpus vector is cell-assigned by the broadcast-seed fold, each "
    "query probes its 2 nearest cells and cosine-ranks only those "
    "members (~corpus/8 candidates per query). The whole index build "
    "unrolls into DuckDB CTEs on the shared ml_kmeans_train prefix, so "
    "training, assignment, probing and ranking are all hash-checked; "
    "recall is pytest-gated too (>=0.9 on clustered data).",
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecommerce_etl_pipeline_spark.llmops.clustering import ivf_topk_portable

    emb = load_table(spark, sf_dir, "embeddings")
    res = ivf_topk_portable(
        emb,
        emb.filter(F.col("vec_id") < 5),
        n_cells=_IVF_CELLS,
        n_probe=_IVF_PROBE,
        k=_IVF_K,
        iterations=_IVF_ITER,
    )
    return res.select(
        "query_id",
        "neighbor_id",
        portable_round(F.col("cosine"), 6).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


@register(
    "txt_vocabulary",
    oracle="""
    SELECT tok AS token, COUNT(*) AS freq,
           COUNT(DISTINCT doc_id) AS doc_freq
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY 1
    ORDER BY freq DESC, token
    LIMIT 50
    """,
    doc="Corpus vocabulary statistics: term frequency + document frequency "
    "(explode tokens -> two-level aggregate) — the TF/DF base for quality "
    "filters and IDF weighting.",
)
def txt_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    return (
        toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(50)
    )


@register(
    "txt_vocab_encode",
    oracle="""
    WITH vocab AS (
        SELECT tok AS token,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS token_id
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY tok
        ORDER BY COUNT(*) DESC, tok
        LIMIT 256
    ),
    toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS INTEGER) AS n_tokens,
           CAST(COUNT(*) FILTER (WHERE v.token_id IS NULL) AS INTEGER) AS n_oov,
           CAST(COUNT(*) FILTER (WHERE v.token_id IS NULL) AS DOUBLE) / COUNT(*)
               AS oov_rate,
           CAST(SUM(COALESCE(v.token_id, 0)) AS BIGINT) AS ids_checksum
    FROM toks t LEFT JOIN vocab v USING (token)
    GROUP BY t.doc_id
    """,
    doc="Vocabulary-encoding application — the tokenizer-apply shape: a "
    "256-term vocabulary is DERIVED from the corpus (rank by frequency, "
    "deterministic ties) and every document's tokens map through it, "
    "reporting per-doc token/OOV counts and an order-independent integer "
    "checksum of the assigned ids (any id-assignment or lookup bug "
    "changes it). Scale shape: the vocabulary is top-V bounded, so the "
    "encode join's build side is hyperparameter-sized and broadcasts from "
    "honest post-aggregate statistics; the corpus streams through once. "
    "Swapping in a real subword vocab is a literal-table change.",
)
def txt_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    # top-V first (TakeOrdered — no global sort), THEN rank ids with a
    # window over the 256 surviving rows only: the single-partition
    # row_number never sees more than V rows however big the vocabulary is
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(256)
        .withColumn(
            "token_id",
            F.row_number().over(Window.orderBy(F.desc("freq"), F.asc("token"))),
        )
        .select("token", "token_id")
    )
    return (
        toks.join(vocab, "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_tokens"),
            F.count(F.when(F.col("token_id").isNull(), 1)).cast("int").alias("n_oov"),
            (
                F.count(F.when(F.col("token_id").isNull(), 1)).cast("double")
                / F.count(F.lit(1))
            ).alias("oov_rate"),
            F.sum(F.coalesce(F.col("token_id"), F.lit(0))).cast("bigint").alias(
                "ids_checksum"
            ),
        )
    )


@register(
    "txt_source_scorecard",
    oracle="""
    WITH per_doc AS (
        SELECT doc_id, source,
               len(string_split(text, ' ')) AS n_tokens,
               md5(text) AS h,
               1.0 / (1.0 + exp(-(-1.2
                   + 0.35 * ln(len(string_split(text, ' ')))
                   + -4.0 * (CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))
                             AS DOUBLE) / length(text))
                   + 2.5 * (CAST(len(list_filter(string_split(text, ' '),
                             x -> list_contains(['the','a','and','of','to','in','is'], x)))
                             AS DOUBLE) / len(string_split(text, ' ')))))) AS q
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS n_exact_dups,
           CAST(COUNT(*) FILTER (WHERE floor(q * 1e6 + 0.5) / 1e6 >= 0.5) AS BIGINT)
               AS n_quality_pass,
           floor(AVG(CAST(n_tokens AS DOUBLE)) * 1e4 + 0.5) / 1e4 AS mean_tokens
    FROM per_doc GROUP BY source
    """,
    doc="Per-source scorecard — the per-dump/per-domain report curation "
    "teams rank ingestion sources by (FineWeb publishes exactly this "
    "table per CommonCrawl dump): document/token counts, within-source "
    "exact-duplicate count, learned-quality pass count, mean length. One "
    "scan, one map-side-combined groupBy on source.",
)
def txt_source_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    q = portable_round(text.quality_logit_score(t), 6)
    return (
        docs.select(
            "source",
            text.token_count(t).alias("n_tokens"),
            F.md5(t).alias("h"),
            q.alias("q"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            (F.count(F.lit(1)) - F.countDistinct("h")).alias("n_exact_dups"),
            F.count(F.when(F.col("q") >= 0.5, 1)).alias("n_quality_pass"),
            portable_round(F.avg(F.col("n_tokens").cast("double")), 4).alias(
                "mean_tokens"
            ),
        )
    )


@register(
    "txt_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dfq AS (SELECT token, COUNT(*) AS doc_freq FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, token, tf, doc_freq,
           {sql_round("tf * ln(CAST(n_docs AS DOUBLE) / doc_freq)", 4)} AS tfidf
    FROM tf JOIN dfq USING (token) CROSS JOIN n
    QUALIFY row_number() OVER (
        PARTITION BY doc_id ORDER BY tf DESC, doc_freq ASC, token ASC) <= 5
    """,
    doc="Per-document top-5 TF-IDF terms (keyword extraction): token "
    "explode -> (doc, term) tf agg -> doc-frequency agg -> idf join -> "
    "per-doc row_number top-k. Ranking is integer-only (tf desc, "
    "doc_freq asc, token asc) so order is float-portable; the tf-idf "
    "score itself is display output, portably rounded. Scale: shuffles "
    "on (doc_id, token), then token, then doc_id — all keyed by data "
    "that shrinks at each step; the N-docs scalar is a broadcast "
    "single-row cross join, AQE broadcasts the vocab side of the idf "
    "join when small.",
)
def txt_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("doc_freq"), F.asc("token")
    )
    return (
        tf.join(dfq, "token")
        .crossJoin(F.broadcast(n))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "doc_id",
            "token",
            "tf",
            "doc_freq",
            portable_round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("doc_freq")),
                4,
            ).alias("tfidf"),
        )
    )


# ---------------------------------------------------------------------------
# BM25 retrieval (round 10): the lexical ranking a training-data pipeline
# runs for eval-set retrieval / hard-negative mining next to the dense
# (sim_*) family. Okapi BM25 with the Lucene +1 idf; the fixed 3-term
# query keeps the whole plan SHUFFLE-FREE: per-document term frequencies
# are per-row array folds (no token explode), corpus stats are ONE
# single-row aggregate broadcast back, and the ranked output is a global
# top-k (TakeOrderedAndProject). Ranking compares the PORTABLY-ROUNDED
# score (ties broken by doc_id), the a12/a17 knife-edge doctrine.
# ---------------------------------------------------------------------------
_BM25_TERMS = ("spark", "join", "filter")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 10


def _bm25_term_sql(i: int) -> str:
    """One query term's BM25 contribution — the EXACT expression shape
    (parenthesization and literal constants) the Spark side builds, so
    both engines execute the same sequence of IEEE double ops."""
    k1, b = _BM25_K1, _BM25_B
    return (
        f"(ln((((n_docs - df{i}) + 0.5) / (df{i} + 0.5)) + 1.0)"
        f" * (tf{i} * {k1 + 1}))"
        f" / (tf{i} + ({k1} * ({round(1 - b, 2)} + ({b} * (dl / avgdl)))))"
    )


@register(
    "txt_bm25_topk",
    oracle=f"""
    WITH per_doc AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS dl,
               {", ".join(
                   "len(list_filter(string_split(text, ' '), "
                   f"x -> x = '{t}')) AS tf{i}"
                   for i, t in enumerate(_BM25_TERMS))}
        FROM documents
    ),
    stats AS (
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
               {", ".join(
                   f"COUNT(*) FILTER (WHERE tf{i} > 0) AS df{i}"
                   for i in range(len(_BM25_TERMS)))}
        FROM per_doc
    )
    SELECT doc_id,
           CAST(dl AS INTEGER) AS n_tokens,
           {", ".join(
               f"CAST(tf{i} AS INTEGER) AS tf_{t}"
               for i, t in enumerate(_BM25_TERMS))},
           {sql_round(" + ".join(
               _bm25_term_sql(i) for i in range(len(_BM25_TERMS))), 4)}
               AS bm25
    FROM per_doc CROSS JOIN stats
    WHERE {" + ".join(f"tf{i}" for i in range(len(_BM25_TERMS)))} > 0
    ORDER BY bm25 DESC, doc_id ASC
    LIMIT {_BM25_TOPK}
    """,
    doc="Okapi BM25 top-k retrieval over the corpus for a fixed lexical "
    "query — the sparse-retrieval face of the similarity family (dense "
    "ANN is sim_*; eval-retrieval and hard-negative mining pipelines run "
    "both). Per-document term frequencies are per-row array folds "
    "(F.filter over the token array — no token explode, no (doc, term) "
    "shuffle), corpus statistics (N, avgdl, per-term doc frequency) are "
    "ONE single-row aggregate broadcast back as a cross join, and the "
    "ranked answer is a global top-k the planner runs as "
    "TakeOrderedAndProject. At 100 TB the plan stays one narrow scan + "
    "one scalar exchange + per-partition heaps: nothing shuffles on a "
    "per-token key. Scoring uses the Lucene +1 idf (always positive on "
    "high-df terms); ranking compares the portably-rounded score with "
    "doc_id tiebreak, so order is engine-invariant (knife-edge rounding "
    "per the a12/a17 doctrine).",
)
def txt_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = text.tokens(F.col("text"))

    def tf_of(term: str) -> F.Column:
        # NOTE: a single-parameter lambda is required — pyspark treats a
        # two-parameter lambda as the (element, index) HOF variant
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    per_doc = docs.select(
        "doc_id",
        text.token_count(F.col("text")).alias("dl"),
        *(tf_of(t).alias(f"tf{i}") for i, t in enumerate(_BM25_TERMS)),
    )
    n = F.count(F.lit(1))
    stats = per_doc.agg(
        n.alias("n_docs"),
        (F.sum("dl").cast("double") / n).alias("avgdl"),
        *(
            F.count(F.when(F.col(f"tf{i}") > 0, 1)).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ),
    )

    def term(i: int) -> F.Column:
        k1, b = _BM25_K1, _BM25_B
        tf = F.col(f"tf{i}")
        df = F.col(f"df{i}")
        idf = F.log(
            (((F.col("n_docs") - df) + F.lit(0.5)) / (df + F.lit(0.5))) + F.lit(1.0)
        )
        denom = tf + (
            F.lit(k1)
            * (F.lit(round(1 - b, 2)) + (F.lit(b) * (F.col("dl") / F.col("avgdl"))))
        )
        return (idf * (tf * F.lit(k1 + 1))) / denom

    score = term(0)
    for i in range(1, len(_BM25_TERMS)):
        score = score + term(i)
    hit = F.col("tf0")
    for i in range(1, len(_BM25_TERMS)):
        hit = hit + F.col(f"tf{i}")
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .filter(hit > 0)
        .select(
            "doc_id",
            F.col("dl").cast("int").alias("n_tokens"),
            *(
                F.col(f"tf{i}").cast("int").alias(f"tf_{t}")
                for i, t in enumerate(_BM25_TERMS)
            ),
            portable_round(score, 4).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_BM25_TOPK)
    )


_CURATED_BASE_SQL = f"""
    hits AS (
        SELECT doc_id, text,
               {_LANG_HITS['en']} AS en_hits,
               {_LANG_HITS['es']} AS es_hits,
               {_LANG_HITS['de']} AS de_hits,
               len(string_split(text, ' ')) AS n_tokens,
               CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                   / length(text) AS pr
        FROM documents
    ), curated_filtered AS (
        SELECT doc_id, text, CAST(n_tokens AS INTEGER) AS n_tokens FROM hits
        WHERE (CASE
                   WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits > 0
                       THEN 'en'
                   WHEN es_hits >= de_hits AND es_hits > 0 THEN 'es'
                   WHEN de_hits > 0 THEN 'de'
                   ELSE 'unknown' END) = 'en'
          AND n_tokens >= 5 AND pr <= 0.3
    ), curated_exact AS (
        SELECT doc_id, text, n_tokens FROM curated_filtered
        QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
    )
"""


@register(
    "dd_curation_pipeline",
    oracle=f"""
    WITH RECURSIVE {_CURATED_BASE_SQL},
    pairs AS ({_jaccard_pairs_sql('curated_exact')}),
    edges AS (
        SELECT doc1 AS a, doc2 AS b FROM pairs
        UNION SELECT doc2, doc1 FROM pairs
    ),
    reach(node, r) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, re.r FROM edges e JOIN reach re ON e.b = re.node
    )
    SELECT doc_id, n_tokens FROM curated_exact
    WHERE doc_id NOT IN (
        SELECT node FROM (SELECT node, MIN(r) AS c FROM reach GROUP BY node)
        WHERE node <> c
    )
    """,
    doc="END-TO-END training-data curation (llmops/curation.py): language-ID "
    "filter -> quality filter (length/punct heuristics) -> exact dedup "
    "(md5, keep min id) -> near-dup cluster canonicalization (exact jaccard "
    "pairs -> connected components -> keep representative). One lazy plan; "
    "oracle-checked END TO END because every stage of the exact-jaccard "
    "variant is SQL-expressible (recursive CTE for the fixpoint). The 100 TB "
    "path swaps stage 4's candidate generator for MinHash-LSH banding "
    "(use_minhash=True, same downstream semantics, rows-only checkable).",
)
def dd_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecommerce_etl_pipeline_spark.llmops import curation

    docs = load_table(spark, sf_dir, "documents")
    curated = curation.curate(docs, use_minhash=False)
    out = curated.select("doc_id", F.col("n_tokens").cast("int").alias("n_tokens"))
    return out


@register(
    "dd_curation_ppjoin",
    oracle=f"""
    WITH RECURSIVE {_CURATED_BASE_SQL},
    pairs AS ({_jaccard_pairs_sql('curated_exact')}),
    edges AS (
        SELECT doc1 AS a, doc2 AS b FROM pairs
        UNION SELECT doc2, doc1 FROM pairs
    ),
    reach(node, r) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, re.r FROM edges e JOIN reach re ON e.b = re.node
    )
    SELECT doc_id, n_tokens FROM curated_exact
    WHERE doc_id NOT IN (
        SELECT node FROM (SELECT node, MIN(r) AS c FROM reach GROUP BY node)
        WHERE node <> c
    )
    """,
    doc="END-TO-END curation with the PPJoin prefix-filter join as stage "
    "4's exact candidate generator — the df-skewed-corpus form of "
    "dd_curation_pipeline. PPJoin is exact, so the oracle is the SAME "
    "plain-inverted-index SQL: any completeness bug in the prefix or "
    "positional filters surfaces as a row diff in the curated corpus "
    "itself, the strongest end-to-end check the operator can get.",
)
def dd_curation_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecommerce_etl_pipeline_spark.llmops import curation

    docs = load_table(spark, sf_dir, "documents")
    curated = curation.curate(docs, use_minhash=False, use_ppjoin=True)
    out = curated.select("doc_id", F.col("n_tokens").cast("int").alias("n_tokens"))
    return out


@register(
    "dd_curation_minhash",
    oracle=f"""
    WITH RECURSIVE {_CURATED_BASE_SQL},
    pairs AS ({_minhash_pairs_sql('curated_exact')}),
    edges AS (
        SELECT doc1 AS a, doc2 AS b FROM pairs
        UNION SELECT doc2, doc1 FROM pairs
    ),
    reach(node, r) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, re.r FROM edges e JOIN reach re ON e.b = re.node
    )
    SELECT doc_id, n_tokens FROM curated_exact
    WHERE doc_id NOT IN (
        SELECT node FROM (SELECT node, MIN(r) AS c FROM reach GROUP BY node)
        WHERE node <> c
    )
    """,
    doc="The 100 TB curation path: same four stages as dd_curation_pipeline "
    "but stage 4's candidate generator is MinHash-LSH banding instead of "
    "the exact shingle join — the band shuffle scales with duplicate "
    "density, not corpus size. Oracle-checked END TO END since round 4: "
    "the md5-portable banding replays in DuckDB (coefficients as "
    "literals), so even the probabilistic candidate stage is verified, "
    "not just the downstream cluster semantics.",
)
def dd_curation_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecommerce_etl_pipeline_spark.llmops import curation

    docs = load_table(spark, sf_dir, "documents")
    curated = curation.curate(docs, use_minhash=True, portable_minhash=True)
    out = curated.select("doc_id", F.col("n_tokens").cast("int").alias("n_tokens"))
    return out


@register(
    "mm_frame_sample",
    oracle="""
    WITH aud AS (
        SELECT doc_id, 64 + doc_id % 64 AS n
        FROM documents WHERE doc_id % 2 = 1
    ),
    frames AS (
        SELECT doc_id, n,
               unnest(range(0, CAST(ceil(n / 16.0) AS INT), 2)) AS f
        FROM aud
    ),
    samp AS (
        SELECT doc_id, f, unnest(range(f * 16, least((f + 1) * 16, n))) AS j
        FROM frames
    )
    SELECT doc_id AS asset_id, CAST(f AS INTEGER) AS frame_index,
           CAST(COUNT(*) AS INTEGER) AS n_frame_samples,
           CAST(SUM((doc_id * 31 + j * 17) % 65536 - 32768) AS BIGINT)
               AS frame_sum_amp
    FROM samp GROUP BY doc_id, f
    """,
    doc="REAL multimodal frame sampling: WAV payloads are demuxed and "
    "PCM-decoded (llmops/multimodal.py::sample_audio_frames), the sample "
    "stream windows into 16-sample frames, and every 2nd frame is kept "
    "with its exact amplitude sum — the 1→N asset-to-frame fan-out, "
    "oracle-checked in closed form from the fixture contract. No shuffle; "
    "fan-out inherits input partitioning.",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    assets = multimodal.synthesize_media_assets(docs)
    return multimodal.sample_audio_frames(assets, frame_samples=16, every_nth=2)


_SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}


@register(
    "dd_hash_split",
    oracle="""
    SELECT doc_id,
           {case_expr} AS split
    FROM documents
    """.format(case_expr=splits.split_thresholds_sql("doc_id", _SPLIT_WEIGHTS, "split:v1")),
    doc="Deterministic hash-based train/val/test split: md5(salt || id) "
    "thresholded by cumulative weight. Pure narrow map — zero shuffles, "
    "runs inside the scan's codegen stage — and stable under corpus "
    "growth: adding documents never moves an existing one across splits, "
    "which is what keeps eval sets frozen across dataset versions. md5 so "
    "the identical expression runs in any engine (oracle-checked).",
)
def dd_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return splits.assign_splits(docs, "doc_id", _SPLIT_WEIGHTS).select("doc_id", "split")


@register(
    "txt_sequence_packing",
    oracle=splits.pack_sequences_sql(budget=256, n_shards=8),
    doc="GPT-style sequence packing: deterministic md5 shuffle into shards, "
    "documents laid end-to-end per shard in hash order, token stream cut "
    "every `budget` tokens; returns each document's (shard, pack_id, "
    "pack_offset). ONE hash-partition shuffle + a per-shard window sort — "
    "the hash order IS the global shuffle, so no separate randomize pass; "
    "shards are md5-uniform (skew-free) and n_shards scales with corpus "
    "size so each sort fits one executor.",
)
def txt_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return splits.pack_sequences(docs, budget=256, n_shards=8)


@register(
    "sm5_stratified_sample",
    oracle="""
    SELECT doc_id, lang, stratum_rank
    FROM (
        SELECT doc_id, lang,
               CAST(row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5('strat:v1' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS INTEGER) AS stratum_rank
        FROM documents
    )
    WHERE stratum_rank <= 50
    """,
    doc="Exact-n-per-stratum deterministic sample (data-mixing primitive: "
    "equalize languages/sources where sampleBy is approximate and "
    "unreplayable): hash-rank rows within each stratum, keep the first n. "
    "Window sort per stratum; at 100 TB pre-prune with a hash threshold "
    "(oversample ~2x, then exact rank) so the sort sees n' << N rows.",
)
def sm5_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return splits.stratified_exact_sample(docs, "lang", 50).select(
        "doc_id", "lang", F.col("stratum_rank").cast("int").alias("stratum_rank")
    )


#: corpus-unigram-LM CTE chain ending in per-doc ``lp(doc_id, n_tokens,
#: avg_logprob)`` — single-sourced so txt_unigram_logprob and the
#: perplexity-prune stage built on top of it can never desynchronize
_UNIGRAM_LM_CTES = f"""tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    vocab AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1),
    tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM vocab),
    lp AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               {sql_round(
                   "CAST(SUM(CAST(FLOOR(ln(CAST(cnt AS DOUBLE)) * 1e9 + 0.5)"
                   " AS BIGINT)) AS DOUBLE) / 1e9 / COUNT(*) - ln(total)", 4)}
                   AS avg_logprob
        FROM tok JOIN vocab USING (token) CROSS JOIN tot
        GROUP BY doc_id, total
    )"""


@register(
    "txt_unigram_logprob",
    oracle="WITH "
    + _UNIGRAM_LM_CTES
    + "\n    SELECT doc_id, n_tokens, avg_logprob FROM lp",
    doc="Corpus-unigram-LM quality score (the CCNet/C4 perplexity-filter "
    "shape with a unigram model): token explode -> vocab count agg -> "
    "broadcast logprob join back -> per-doc mean log-probability. Low "
    "scores flag gibberish / OOV-heavy docs. Per-token log-probs are "
    "half-up-quantized to nano precision and summed as exact integers, so "
    "the per-doc mean is independent of partitioning/summation order on "
    "both engines (a raw FP AVG(ln) drifts at scale). Scale: the vocab "
    "table after aggregation is tiny relative to the corpus (Zipf), so "
    "the re-score join is a broadcast; the only big shuffles are the "
    "vocab count and the per-doc regroup, both map-side combinable.",
)
def txt_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _unigram_logprob_frame(spark, sf_dir)


def _unigram_logprob_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc ``(doc_id, n_tokens, avg_logprob)`` under the corpus
    unigram LM — the Spark twin of the ``lp`` CTE in _UNIGRAM_LM_CTES
    (shared by txt_unigram_logprob and txt_perplexity_prune)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(text.tokens(F.col("text"))).alias("token"))
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").cast("double").alias("total"))
    micro_lp = F.floor(
        F.log(F.col("cnt").cast("double")) * F.lit(1e9) + F.lit(0.5)
    ).cast("bigint")
    return (
        tok.join(F.broadcast(vocab), "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id", "total")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(micro_lp).alias("_sum_micro"),
        )
        .select(
            "doc_id",
            "n_tokens",
            portable_round(
                F.col("_sum_micro").cast("double")
                / F.lit(1e9)
                / F.col("n_tokens")
                - F.log(F.col("total").cast("double")),
                4,
            ).alias("avg_logprob"),
        )
    )


#: tercile probabilities as the EXACT repr both engines parse — the Spark
#: side interpolates percentile(x, array(...)) with these literals and the
#: oracle writes the same text into quantile_cont, so the interpolation
#: inputs are identical doubles (the 4dp edge rounding then absorbs any
#: last-ulp formula difference — the a12/a17 qcut doctrine)
_PPL_TERCILES = (repr(1 / 3), repr(2 / 3))


@register(
    "txt_perplexity_prune",
    oracle="WITH "
    + _UNIGRAM_LM_CTES
    + f""",
    e AS (
        SELECT floor(quantile_cont(avg_logprob, {_PPL_TERCILES[0]}) * 1e4
                     + 0.5) / 1e4 AS e1,
               floor(quantile_cont(avg_logprob, {_PPL_TERCILES[1]}) * 1e4
                     + 0.5) / 1e4 AS e2
        FROM lp
    )
    SELECT doc_id, n_tokens, avg_logprob,
           CASE WHEN avg_logprob <= e2 THEN 'middle' ELSE 'head' END
               AS ppl_bucket
    FROM lp CROSS JOIN e
    WHERE avg_logprob > e1
    """,
    doc="CCNet-style perplexity pruning — the standard model-based "
    "curation stage between heuristic gates and trained classifiers: "
    "score every document under the corpus unigram LM "
    "(txt_unigram_logprob's portable integer-nano mean logprob), split "
    "the corpus into head/middle/tail by EXACT logprob terciles "
    "(interpolated edges, the pandas-qcut/a12 doctrine, half-up-rounded "
    "to 4dp on both engines before comparison), and PRUNE the tail — "
    "the lowest-likelihood third, where boilerplate-gibberish and "
    "OOV-heavy docs concentrate. Returns the kept docs with their "
    "bucket. Scale shape: the LM passes are txt_unigram_logprob's "
    "(map-side-combined vocab agg, broadcast re-score join), the edges "
    "are ONE tree-aggregated scalar row collected driver-side "
    "(binning.quantile_edges; at 100 TB pass exact=False for "
    "approx_percentile with a tight error instead of the exact "
    "sort-based percentile), and the prune is a scan-side when-chain "
    "filter — no new corpus-scale shuffle beyond the LM itself.",
)
def txt_perplexity_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecommerce_etl_pipeline_spark.functions import binning

    lp = caches.persist(_unigram_logprob_frame(spark, sf_dir))
    probs = [float(p) for p in _PPL_TERCILES]
    e1, e2 = binning.round_edges(binning.quantile_edges(lp, "avg_logprob", probs))
    out = (
        lp.filter(F.col("avg_logprob") > F.lit(e1))
        .select(
            "doc_id",
            "n_tokens",
            "avg_logprob",
            F.when(F.col("avg_logprob") <= F.lit(e2), F.lit("middle"))
            .otherwise(F.lit("head"))
            .alias("ppl_bucket"),
        )
    )
    return out


@register(
    "txt_repetition_battery",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    uc AS (
        SELECT doc_id, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(toks) AS g FROM t) GROUP BY doc_id, g
    ),
    m1 AS (SELECT doc_id, MAX(c) AS m1, SUM(c) AS n1 FROM uc GROUP BY doc_id),
    bc AS (
        SELECT doc_id, COUNT(*) AS c
        FROM (SELECT doc_id,
                     unnest(list_transform(generate_series(1, len(toks) - 1),
                            i -> toks[i] || ' ' || toks[i+1])) AS g
              FROM t WHERE len(toks) >= 2)
        GROUP BY doc_id, g
    ),
    m2 AS (SELECT doc_id, MAX(c) AS m2, SUM(c) AS n2 FROM bc GROUP BY doc_id),
    tc AS (
        SELECT doc_id, COUNT(*) AS c
        FROM (SELECT doc_id,
                     unnest(list_transform(generate_series(1, len(toks) - 2),
                            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
              FROM t WHERE len(toks) >= 3)
        GROUP BY doc_id, g
    ),
    m3 AS (SELECT doc_id, SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS d3,
                  SUM(c) AS n3 FROM tc GROUP BY doc_id)
    SELECT doc_id, n_tokens, top_unigram_frac, top_bigram_frac, dup_trigram_frac,
           (top_unigram_frac <= 0.125 AND top_bigram_frac <= 0.06
            AND dup_trigram_frac <= 0.05) AS keep
    FROM (
        SELECT m1.doc_id,
               CAST(n1 AS INTEGER) AS n_tokens,
               {sql_round("m1 * 1.0 / n1", 6)} AS top_unigram_frac,
               COALESCE({sql_round("m2 * 1.0 / n2", 6)}, 0.0) AS top_bigram_frac,
               COALESCE({sql_round("d3 * 1.0 / n3", 6)}, 0.0) AS dup_trigram_frac
        FROM m1 LEFT JOIN m2 USING (doc_id) LEFT JOIN m3 USING (doc_id)
    )
    """,
    doc="Gopher-style repetition filter battery (Rae et al. 2021, adapted "
    "token-level): per doc, the top-unigram fraction, top-bigram "
    "fraction, and repeated-trigram coverage, plus the keep flag at "
    "Gopher-shaped thresholds evaluated on ROUNDED values (the "
    "engine-portable boundary rule). Entirely scan-side: each measure is "
    "an array_sort + one fold per row (max-run = per-row MAX(GROUP BY), "
    "run-length singletons = duplicate coverage) — zero shuffles, the "
    "cheapest class of quality filter, so it runs before anything wide.",
)
def txt_repetition_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    # widen the single-row-group scan before the interpreted per-char/per-token pass (see txt_winnow_fingerprints)
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    t = F.col("text")
    base = docs.select(
        "doc_id",
        F.array_sort(text.tokens(t)).alias("su"),
        F.array_sort(text.bigram_pairs(t)).alias("sb"),
        F.array_sort(text.trigram_structs(t)).alias("st"),
    )
    m = base.select(
        "doc_id",
        F.size("su").alias("n_tokens"),
        text.max_run_count(F.col("su")).alias("m1"),
        F.size("sb").alias("n2"),
        text.max_run_count(F.col("sb")).alias("m2"),
        F.size("st").alias("n3"),
        text.singleton_count(F.col("st")).alias("u3"),
    )
    f1 = portable_round(F.col("m1") / F.col("n_tokens"), 6)
    f2 = F.when(
        F.col("n2") > 0, portable_round(F.col("m2") / F.col("n2"), 6)
    ).otherwise(F.lit(0.0))
    f3 = F.when(
        F.col("n3") > 0,
        portable_round((F.col("n3") - F.col("u3")) / F.col("n3"), 6),
    ).otherwise(F.lit(0.0))
    scored = m.select(
        "doc_id",
        "n_tokens",
        f1.alias("top_unigram_frac"),
        f2.alias("top_bigram_frac"),
        f3.alias("dup_trigram_frac"),
    )
    return scored.withColumn(
        "keep",
        (F.col("top_unigram_frac") <= 0.125)
        & (F.col("top_bigram_frac") <= 0.06)
        & (F.col("dup_trigram_frac") <= 0.05),
    )


@register(
    "txt_pii_redaction",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
               '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS INTEGER) AS n_email,
           CAST(len(regexp_extract_all(text,
               '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS INTEGER) AS n_ipv4,
           CAST(len(regexp_extract_all(text, '\\b\\d{13,19}\\b')) AS INTEGER) AS n_longnum,
           CAST(len(regexp_extract_all(text, '\\bcustomer\\b')) AS INTEGER) AS n_blockterm,
           md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
               '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
               '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
               '\\b\\d{13,19}\\b', '<NUM>', 'g'),
               '\\bcustomer\\b', '<TERM>', 'g')) AS redacted_hash
    FROM documents
    """,
    doc="PII / dictionary scrub (emails, IPv4, 13-19-digit numbers, plus a "
    "term blocklist): per-class match counts and the hash of the scrubbed "
    "text. All patterns are Java-regex/RE2-common (no lookaround). Pure "
    "scan-side regexp passes in one codegen stage — the cheapest class of "
    "compliance filter at 100 TB; run it fused with quality scoring.",
)
def txt_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    counts = [
        F.regexp_count(t, F.lit(pat)).cast("int").alias(f"n_{name}")
        for name, pat, _ in text.PII_PATTERNS
    ]
    return docs.select(
        "doc_id",
        *counts,
        F.md5(text.redacted_text(t)).alias("redacted_hash"),
    )


@register(
    "dd_segment_dup_ratio",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    segs AS (
        SELECT doc_id,
               md5(array_to_string(t[gs * {text.SEGMENT_TOKENS} + 1 :
                                     gs * {text.SEGMENT_TOKENS} + {text.SEGMENT_TOKENS}],
                                   ' ')) AS seg_hash
        FROM toks,
             unnest(generate_series(0,
                 CAST(floor(len(t) / {text.SEGMENT_TOKENS}) AS INT) - 1)) AS u(gs)
        WHERE len(t) >= {text.SEGMENT_TOKENS}
    ),
    occ AS (SELECT seg_hash, COUNT(*) AS occ FROM segs GROUP BY 1)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segments,
           {sql_round("CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS DOUBLE)"
                      " / COUNT(*)", 4)} AS dup_ratio
    FROM segs JOIN occ USING (seg_hash)
    GROUP BY doc_id
    """,
    doc="Sequence-level (sub-document) dedup signal: hash every complete "
    "16-token window, count corpus-wide occurrences, report per-doc the "
    "fraction of windows that repeat anywhere (the train-time 'repeated "
    "passage' measure behind suffix-array dedup, at window granularity). "
    "Scale: shuffles 32-byte hashes, never text; the occurrence agg is "
    "map-side combinable and the join back is hash-partitioned on the "
    "same key, so it reuses the shuffle under AQE.",
)
def dd_segment_dup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    # widen the single-row-group scan before the interpreted chunk/segment HOFs (see txt_winnow_fingerprints)
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    segs = docs.select(
        "doc_id", F.explode(text.segment_hashes(F.col("text"))).alias("seg_hash")
    )
    occ = segs.groupBy("seg_hash").agg(F.count(F.lit(1)).alias("occ"))
    dup = F.sum((F.col("occ") > 1).cast("long"))
    return (
        segs.join(occ, "seg_hash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            dup.alias("n_dup_segments"),
            portable_round(dup.cast("double") / F.count(F.lit(1)), 4).alias("dup_ratio"),
        )
    )


@register(
    "sim_quantized_topk",
    oracle=f"""
    WITH sc AS (
        SELECT vec_id, embedding,
               127.0 / CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)
                   AS scale
        FROM embeddings
    ),
    qz AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT)) AS q
        FROM sc
    ),
    nrm AS (
        SELECT vec_id, q,
               CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nq
        FROM qz
    ),
    scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               CAST(list_sum(list_transform(generate_series(1, len(a.q)),
                    i -> a.q[i] * b.q[i])) AS BIGINT)
                   / sqrt(CAST(a.nq * b.nq AS DOUBLE)) AS qcos
        FROM nrm a, nrm b
        WHERE a.vec_id < 5 AND b.vec_id != a.vec_id
    )
    SELECT query_id, neighbor_id,
           {sql_round("qcos", 6)} AS qcos,
           CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY qcos DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 10
    """,
    doc="Int8-quantized cosine top-10 for 5 query vectors: symmetric "
    "per-vector quantization (127/max|v|, portable half-up rounding), "
    "exact integer dot products, one final double division — so Spark "
    "and the oracle agree bit-for-bit. The memory-compression path for "
    "billion-vector ANN: 4x less index RAM and shuffle than float32, "
    "re-rank survivors with sim_cosine_topk.",
)
def sim_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    res = similarity.quantized_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)
    return res.select(
        "query_id",
        "neighbor_id",
        portable_round(F.col("qcos"), 6).alias("qcos"),
        F.col("rank").cast("int").alias("rank"),
    )


@register(
    "sm6_mixture_sample",
    oracle="""
    SELECT doc_id, source, source_rank
    FROM (
        SELECT doc_id, source,
               CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5('mix:v1' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS INTEGER) AS source_rank
        FROM documents
        WHERE source IN ('src0', 'src1', 'src2')
    )
    WHERE source_rank <= CASE source
        WHEN 'src0' THEN 50 WHEN 'src1' THEN 30 WHEN 'src2' THEN 20 END
    """,
    doc="Deterministic corpus-mixing sample: exact per-source quotas from "
    "target weights (50/30/20 over three sources, largest-remainder "
    "apportionment), rows chosen by salted hash rank so the draw is "
    "replayable and growth-stable. The mixing step of assembling a "
    "training corpus from heterogeneous sources. Unlisted sources are "
    "pruned BEFORE the rank exchange.",
)
def sm6_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = splits.mixture_sample(
        docs, {"src0": 0.5, "src1": 0.3, "src2": 0.2}, total_n=100
    )
    return out.select(
        "doc_id", "source", F.col("source_rank").cast("int").alias("source_rank")
    )


# Shared cross-corpus shingle-Jaccard SQL: the top 20% of the doc_id space
# stands in for the incoming batch, the bottom 80% for the corpus index —
# sf-relative so the batch stays the small side at every scale factor.
# Raw-shingle mode, mirroring dedup.contamination_against's fused length
# filter exactly.
def _incremental_dedup_sql(thr: float = 0.5) -> str:
    split_id = "(SELECT CAST(FLOOR(0.8 * (MAX(doc_id) + 1)) AS BIGINT) FROM documents)"
    return f"""
    WITH ix AS (SELECT doc_id, text FROM documents WHERE doc_id < {split_id}),
    bt AS (SELECT doc_id, text FROM documents WHERE doc_id >= {split_id}),
    exact AS (
        SELECT b.doc_id AS batch_id, MIN(i.doc_id) AS exact_match
        FROM bt b JOIN ix i ON md5(b.text) = md5(i.text)
        GROUP BY b.doc_id
    ),
    sh AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 3 THEN
                   list_distinct(list_transform(generate_series(1, len(t) - 2),
                       i -> array_to_string(t[i:i+2], ' ')))
               ELSE [array_to_string(t, ' ')] END AS shingles
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    ),
    inv AS (
        SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh
    ),
    inter AS (
        SELECT i.doc_id AS index_id, b.doc_id AS batch_id,
               i.n AS n_i, b.n AS n_b, COUNT(*) AS c
        FROM inv i JOIN inv b
          ON i.s = b.s AND i.doc_id < {split_id} AND b.doc_id >= {split_id}
         AND {thr} * i.n <= b.n AND {thr} * b.n <= i.n
        GROUP BY 1, 2, 3, 4
    ),
    near AS (
        SELECT batch_id, MIN(index_id) AS near_match
        FROM inter WHERE c / (n_i + n_b - c) >= {thr}
        GROUP BY batch_id
    )
    SELECT b.doc_id,
           CASE WHEN e.exact_match IS NOT NULL THEN 'exact_dup'
                WHEN n.near_match IS NOT NULL THEN 'near_dup'
                ELSE 'kept' END AS status,
           COALESCE(e.exact_match, n.near_match) AS match_id
    FROM bt b
    LEFT JOIN exact e ON e.batch_id = b.doc_id
    LEFT JOIN near n ON n.batch_id = b.doc_id
    """


@register(
    "dd_incremental_dedup",
    oracle=_incremental_dedup_sql(),
    doc="Incremental (daily-ingestion) dedup: classify each incoming "
    "document (top 20% of the doc_id space stands in for today's batch) "
    "against the existing corpus index (bottom 80%) as exact_dup / "
    "near_dup / kept with the lowest matching index id. The 100 TB shape "
    "(llmops/dedup.py::incremental_dedup): the small batch side "
    "BROADCASTS into both the content-hash probe and the shingle-postings "
    "candidate join, so the petabyte-class index is scanned once and "
    "never re-shuffled. Raw-shingle mode for exact oracle parity.",
)
def dd_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # sf-relative split; the max-id probe is a columnar min/max scan
    split_id = int(0.8 * (docs.agg(F.max("doc_id")).first()[0] + 1))
    index = docs.filter(F.col("doc_id") < split_id)
    batch = docs.filter(F.col("doc_id") >= split_id)
    return dedup.incremental_dedup(index, batch, hashed=False)


@register(
    "sm7_temperature_mixture",
    oracle="""
    WITH src AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    sq AS (SELECT source, sqrt(CAST(n AS DOUBLE)) AS sqn FROM src),
    csum AS (
        SELECT source, sqn,
               SUM(sqn) OVER (ORDER BY source
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cs
        FROM sq
    ),
    tot AS (SELECT cs AS s FROM csum ORDER BY source DESC LIMIT 1),
    fl AS (
        SELECT source,
               CAST(FLOOR((sqn / (SELECT s FROM tot)) * 200) AS BIGINT) AS q,
               (sqn / (SELECT s FROM tot)) * 200
                   - FLOOR((sqn / (SELECT s FROM tot)) * 200) AS frac
        FROM sq
    ),
    shortfall AS (SELECT 200 - CAST(SUM(q) AS BIGINT) AS s FROM fl),
    ranked AS (
        SELECT source, q,
               ROW_NUMBER() OVER (ORDER BY frac DESC, source) AS rk
        FROM fl
    ),
    quotas AS (
        SELECT source,
               q + CASE WHEN rk <= (SELECT s FROM shortfall) THEN 1 ELSE 0 END
                   AS quota
        FROM ranked
    )
    SELECT doc_id, source, source_rank FROM (
        SELECT d.doc_id, d.source, qt.quota,
               CAST(row_number() OVER (
                   PARTITION BY d.source
                   ORDER BY md5('tmix:v1' || CAST(d.doc_id AS VARCHAR)), d.doc_id
               ) AS INTEGER) AS source_rank
        FROM documents d JOIN quotas qt USING (source)
    ) WHERE source_rank <= quota
    """,
    doc="Temperature-scaled mixture sampling (alpha = 0.5): per-source "
    "quotas proportional to count^alpha — the multilingual/multi-source "
    "rebalancing rule that up-samples small sources — apportioned by "
    "largest remainder to exactly 200 rows, drawn by salted hash rank "
    "(replayable, growth-stable). Source counts are a tiny aggregate "
    "collected driver-side (broadcast-sized, like a join plan choice); "
    "the draw itself is one window shuffle partitioned by source. The "
    "weight normalizer is a left fold in source order on BOTH engines so "
    "largest-remainder ties cannot flip (llmops/splits.py::"
    "temperature_weights).",
)
def sm7_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    weights = splits.temperature_weights(counts, alpha=0.5)
    out = splits.mixture_sample(docs, weights, total_n=200, salt="tmix:v1")
    return out.select(
        "doc_id", "source", F.col("source_rank").cast("int").alias("source_rank")
    )


@register(
    "txt_bigram_logprob",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    pos AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks),
    bg AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2 FROM pos),
    uni AS (
        SELECT tok AS w, COUNT(*) AS c1
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(c1) AS DOUBLE) AS total FROM uni),
    big AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
    scored AS (
        SELECT bg.doc_id,
               CAST(0.7 AS DOUBLE) * (CAST(b.c2 AS DOUBLE) / u1.c1)
                 + CAST(0.3 AS DOUBLE) * (CAST(u2.c1 AS DOUBLE) / total) AS p
        FROM bg
        JOIN big b ON b.w1 = bg.w1 AND b.w2 = bg.w2
        JOIN uni u1 ON u1.w = bg.w1
        JOIN uni u2 ON u2.w = bg.w2
        CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           {sql_round(
               "CAST(SUM(CAST(FLOOR(ln(p) * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)"
               " / 1e9 / COUNT(*)", 4)} AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
    doc="Interpolated bigram-LM quality score: p(w2|w1) = 0.7*MLE-bigram + "
    "0.3*unigram backoff, per-doc mean log-probability — one model order "
    "up from txt_unigram_logprob, the cheap KenLM-style fluency filter. "
    "Per-bigram log-probs are nano-quantized and summed as exact integers "
    "(order-independent on both engines). Scale: unigram and bigram count "
    "tables broadcast here; at web scale the bigram LM outgrows broadcast "
    "and the rescore becomes a shuffle hash join on w1 — same plan "
    "otherwise. Bigrams derive from the token array by index (zip with "
    "next), zero extra tokenization passes.",
)
def txt_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    # widen the single-row-group scan before the interpreted per-char/per-token pass (see txt_winnow_fingerprints)
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", text.tokens(F.col("text")).alias("t"))
    bg = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    uni = (
        docs.select(F.explode(text.tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    total = uni.agg(F.sum("c1").cast("double").alias("total"))
    big = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    p = F.lit(0.7) * (F.col("c2").cast("double") / F.col("c1a")) + F.lit(0.3) * (
        F.col("c1b").cast("double") / F.col("total")
    )
    micro = F.floor(F.log(p) * F.lit(1e9) + F.lit(0.5)).cast("bigint")
    return (
        bg.join(F.broadcast(big), ["w1", "w2"])
        .join(F.broadcast(uni.select(F.col("w").alias("w1"), F.col("c1").alias("c1a"))), "w1")
        .join(F.broadcast(uni.select(F.col("w").alias("w2"), F.col("c1").alias("c1b"))), "w2")
        .crossJoin(F.broadcast(total))
        .withColumn("_micro", micro)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("_micro").alias("_sum_micro"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            portable_round(
                F.col("_sum_micro").cast("double") / F.lit(1e9) / F.col("n_bigrams"), 4
            ).alias("avg_logprob"),
        )
    )


@register(
    "txt_compression_ratio",
    doc="Per-doc zlib-deflate compression ratio — the Gopher/RefinedWeb "
    "repetition/noise quality heuristic (templated text compresses far "
    "below prose; noise barely compresses). Arrow-batched mapInPandas, "
    "scan-side only. Rows-only check (deflate output is not "
    "SQL-expressible); determinism + ordering properties gated in "
    "tests/test_llmops_algos.py.",
)
def txt_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.compression_ratio(docs)


@register(
    "txt_char_entropy",
    oracle=f"""
    WITH chars AS (
        SELECT doc_id, substring(text, i, 1) AS ch
        FROM (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
              FROM documents)
    ),
    freq AS (
        SELECT doc_id, ch, COUNT(*) AS k FROM chars GROUP BY doc_id, ch
    ),
    tot AS (
        SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n FROM freq GROUP BY doc_id
    )
    SELECT freq.doc_id,
           n AS n_chars,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           {sql_round(
               "CAST(SUM(CAST(FLOOR((CAST(k AS DOUBLE) / n)"
               " * ln(CAST(n AS DOUBLE) / k) * 1e9 + 0.5) AS BIGINT))"
               " AS DOUBLE) / 1e9", 4)} AS entropy
    FROM freq JOIN tot ON tot.doc_id = freq.doc_id
    GROUP BY freq.doc_id, n
    """,
    doc="Per-doc character Shannon entropy (nats) + distinct-char count — "
    "the mojibake/gibberish screen: encoding damage and random noise push "
    "entropy high, boilerplate pushes it low. Per-char terms "
    "(k/n)*ln(n/k) are nano-quantized to exact integers before summation "
    "(order-independent on both engines). Two shuffles — (doc_id, char) "
    "counts then per-doc regroup — both map-side combinable; char "
    "explosion never leaves the scan stage.",
)
def txt_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # widen the single-row-group scan before the interpreted per-char/per-token pass (see txt_winnow_fingerprints)
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    chars = docs.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, length(text)), i -> substring(text, i, 1))")
        ).alias("ch"),
    )
    freq = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("k"))
    tot = freq.groupBy("doc_id").agg(F.sum("k").cast("bigint").alias("n"))
    term_micro = F.floor(
        (F.col("k").cast("double") / F.col("n"))
        * F.log(F.col("n").cast("double") / F.col("k"))
        * F.lit(1e9)
        + F.lit(0.5)
    ).cast("bigint")
    return (
        freq.join(tot, "doc_id")
        .groupBy("doc_id", "n")
        .agg(
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(term_micro).alias("_sum_micro"),
        )
        .select(
            "doc_id",
            F.col("n").alias("n_chars"),
            "n_distinct",
            portable_round(F.col("_sum_micro").cast("double") / F.lit(1e9), 4).alias(
                "entropy"
            ),
        )
    )


@register(
    "sim_ivf_recall",
    oracle=_IVF_WITH + f""",
    exact_scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, {_IVF_COS} AS cos
        FROM q, embeddings e
        WHERE e.vec_id != q.query_id
    ),
    exact_topk AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, neighbor_id) AS rn
            FROM exact_scored
        ) WHERE rn <= {_IVF_K}
    )
    SELECT query_id, hits,
           CAST(hits AS DOUBLE) / {float(_IVF_K)} AS recall
    FROM (
        SELECT x.query_id,
               CAST(SUM(CASE WHEN a.rn IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS hits
        FROM exact_topk x
        LEFT JOIN (SELECT query_id, neighbor_id, rn FROM ivf_ranked
                   WHERE rn <= {_IVF_K}) a
               USING (query_id, neighbor_id)
        GROUP BY x.query_id
    )
    """,
    doc="Recall@10 of the PORTABLE IVF index (16 integer-nano Lloyd "
    "cells, 2 probes) vs the exact brute-force ranking, per query — the "
    "same measured-quality stance as sim_lsh_recall applied to the "
    "coarse-quantizer path. The portable quantizer makes BOTH rankings "
    "and the recall arithmetic DuckDB-replayable (hits as integer "
    "counts, recall = hits/10.0). The clustered-data recall>=0.9 gate "
    "lives in tests/test_similarity_recall.py.",
)
def sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecommerce_etl_pipeline_spark.llmops.clustering import ivf_topk_portable

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return similarity.topk_recall(
        similarity.brute_force_topk(emb, q, k=_IVF_K),
        ivf_topk_portable(
            emb,
            q,
            n_cells=_IVF_CELLS,
            n_probe=_IVF_PROBE,
            k=_IVF_K,
            iterations=_IVF_ITER,
        ),
        k=_IVF_K,
    )


# ---------------------------------------------------------------------------
# Quality-classifier TRAINING (llmops/classifier.py) — the full
# gradient-descent loop replays in DuckDB via the integer-nano doctrine:
# fast-sigmoid link (no transcendentals, every op exactly-rounded IEEE),
# per-row gradients quantized to bigint nanos (order-independent sums),
# TRUNCATING-division weight updates (DuckDB's integer // truncates
# toward zero like Spark's div; Python's // floors, so the driver uses
# classifier.trunc_div), fixed iteration count unrolled into
# materialized CTEs.
# ---------------------------------------------------------------------------
_CLS_D = 5
_CLS_ITER = 12
_CLS_LR_NUM = 16
_CLS_LR_DEN = 1


def _cls_feats_sql(where: str = "") -> str:
    """The d=5 feature + label SELECT (one per corpus split): mirrors
    classifier.featurize literally; ``where`` filters `documents` (the
    holdout split predicate references doc_id, so it applies BEFORE the
    text projection)."""
    pred = f" WHERE {where}" if where else ""
    return f"""
        SELECT 1.0 AS x0,
               CAST({_LANG_HITS['en']} AS DOUBLE) / nn AS x1,
               CAST({_LANG_HITS['es']} AS DOUBLE) / nn AS x2,
               pp / cc AS x3,
               least(nn, 100.0) / 100.0 AS x4,
               CASE WHEN nn >= 40 AND pp / cc <= 0.2 THEN 1 ELSE 0 END AS y
        FROM (
            SELECT text,
                   CAST(greatest(len(string_split(text, ' ')), 1) AS DOUBLE) AS nn,
                   CAST(greatest(length(text), 1) AS DOUBLE) AS cc,
                   CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))
                        AS DOUBLE) AS pp
            FROM (SELECT coalesce(text, '') AS text FROM documents{pred})
        )"""


def _hashed_bucket_sql(n_buckets: int, salt: str) -> str:
    """The md5 token->bucket expression over lambda variable ``tok``
    (DuckDB mirror of classifier.hashed_bucket_array's element
    function), composed from splits.sql_hash_uint32 — the SAME renderer
    the split predicates use — so the feature CTEs, the curation-gate
    fold, and the split hashing can never desynchronize."""
    return f"{splits.sql_hash_uint32('tok', salt)} % {n_buckets}"


def _cls_feats_hashed_sql(n_buckets: int, salt: str, where: str = "") -> str:
    """The d = n_buckets + 5 PRODUCTION-width feature SELECT — mirrors
    classifier.hashed_feature_exprs literally: the five quality ratios
    (x0..x4, identical to _cls_feats_sql) followed by ``n_buckets``
    hashed-unigram ratios. Each token's bucket is md5-portable
    (splits.sql_hash_uint32 % n_buckets) computed ONCE into a list; each
    bucket feature is count-in-bucket / token count (a ratio of integer
    counts, IEEE-exact); the label is the same heuristic judge.
    ``where`` filters `documents` (holdout split predicates reference
    doc_id, so it applies BEFORE the text projection)."""
    pred = f" WHERE {where}" if where else ""
    bucket = _hashed_bucket_sql(n_buckets, salt)
    xcols = ",\n               ".join(
        f"CAST(len(list_filter(bs, b -> b = {j})) AS DOUBLE) / nn AS x{j + 5}"
        for j in range(n_buckets)
    )
    return f"""
        SELECT 1.0 AS x0,
               CAST({_LANG_HITS['en']} AS DOUBLE) / nn AS x1,
               CAST({_LANG_HITS['es']} AS DOUBLE) / nn AS x2,
               pp / cc AS x3,
               least(nn, 100.0) / 100.0 AS x4,
               {xcols},
               CASE WHEN nn >= 40 AND pp / cc <= 0.2 THEN 1 ELSE 0 END AS y
        FROM (
            SELECT text, nn, cc, pp,
                   list_transform(string_split(text, ' '), tok -> {bucket}) AS bs
            FROM (
                SELECT text,
                       CAST(greatest(len(string_split(text, ' ')), 1) AS DOUBLE) AS nn,
                       CAST(greatest(length(text), 1) AS DOUBLE) AS cc,
                       CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))
                            AS DOUBLE) AS pp
                FROM (SELECT coalesce(text, '') AS text FROM documents{pred})
            )
        )"""


def _logreg_sql(
    where: str = "", *, d: int = _CLS_D, feats_sql: str | None = None
) -> tuple[str, str]:
    """(WITH-clause prefix, name of the final weight CTE). ``where``
    restricts training to a split of `documents` (holdout evaluation);
    ``d``/``feats_sql`` swap in an alternative feature geometry (the
    d=64 hashed-unigram variant) — the unrolled loop itself is generated
    per-feature, so it is d-agnostic like the Spark trainer."""
    parts = [
        "feats AS MATERIALIZED ("
        + (feats_sql if feats_sql is not None else _cls_feats_sql(where))
        + ")",
        "cnt AS (SELECT COUNT(*) AS n FROM feats)",
        "w0 AS (SELECT "
        + ", ".join(f"CAST(0 AS BIGINT) AS w{j}" for j in range(d))
        + ")",
    ]
    for t in range(1, _CLS_ITER + 1):
        z = " + ".join(
            f"f.x{j} * (w.w{j} / 1000000000.0)" for j in range(d)
        )
        # per-row gradients stay BIGINT; the SUM widens to HUGEINT to
        # match the Spark side's decimal(38,0) sums (a BIGINT sum
        # overflows at ~9.2e9 rows of ±1e9 worst-case contributions)
        g_cols = ", ".join(
            "CAST(SUM(CAST(floor(((0.5 + z / (2.0 * (1.0 + abs(z)))) - y)"
            f" * x{j} * 1000000000.0 + 0.5) AS BIGINT)) AS HUGEINT) AS g{j}"
            for j in range(d)
        )
        # MATERIALIZED is load-bearing: w{t-1} is referenced by BOTH
        # g{t} and w{t}, and DuckDB inline-expands non-materialized CTEs
        # per reference — 2^iterations plan blowup (the unrolled-loop
        # gotcha from the portable-numerics doctrine)
        parts.append(
            f"g{t} AS MATERIALIZED (SELECT {g_cols} FROM "
            f"(SELECT f.*, ({z}) AS z FROM feats f CROSS JOIN w{t - 1} w))"
        )
        # HUGEINT product (lr_num * G overflows BIGINT past ~5.8e17 |G|);
        # coalesce + greatest guard the empty-split degenerate case the
        # Spark trainer short-circuits (n=0 => zero gradient => w stays
        # 0, exactly what coalesce(NULL,0) // greatest(0,1) yields); the
        # weight itself casts back to BIGINT (|w| is O(1e9*iterations))
        w_cols = ", ".join(
            f"CAST(w.w{j} - ({_CLS_LR_NUM} * coalesce(g.g{j}, 0)) // "
            f"greatest({_CLS_LR_DEN} * c.n, 1) AS BIGINT) AS w{j}"
            for j in range(d)
        )
        parts.append(
            f"w{t} AS MATERIALIZED (SELECT {w_cols} FROM w{t - 1} w "
            f"CROSS JOIN g{t} g CROSS JOIN cnt c)"
        )
    return "WITH " + ",\n".join(parts), f"w{_CLS_ITER}"


_CLS_WITH, _CLS_WFINAL = _logreg_sql()


@register(
    "ml_logreg_train",
    oracle=_CLS_WITH + "\n" + "\nUNION ALL ".join(
        f"SELECT {j} AS feature, w{j} AS weight_nano FROM {_CLS_WFINAL}"
        for j in range(_CLS_D)
    ),
    doc="Quality-classifier training (the FineWeb-style distillation "
    "stage): 12 gradient-descent rounds of a fast-sigmoid linear scorer "
    "over 5 integer-ratio features (bias, en/es stopword ratios, punct "
    "ratio, capped length), labels from the heuristic judge. Each round "
    "is ONE map-side-combinable aggregate to d=5 integer-nano gradient "
    "sums (bounded driver statistic, the kmeans-centroid class); the "
    "ENTIRE loop replays in DuckDB as unrolled materialized CTEs — "
    "weights are bit-identical integers, not approximately-equal floats.",
)
def ml_logreg_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w, _feats = classifier.train_linear_scorer(
        docs, iterations=_CLS_ITER, lr_num=_CLS_LR_NUM, lr_den=_CLS_LR_DEN
    )
    out = spark.createDataFrame(
        [(j, int(w[j])) for j in range(len(w))], "feature INT, weight_nano LONG"
    )
    return out


_CLS_D64 = classifier.HASHED_D
_CLS64_WITH, _CLS64_WFINAL = _logreg_sql(
    d=_CLS_D64,
    feats_sql=_cls_feats_hashed_sql(_CLS_D64 - 5, classifier.HASHED_SALT),
)


@register(
    "ml_logreg_train_d64",
    oracle=_CLS64_WITH + "\n" + "\nUNION ALL ".join(
        f"SELECT {j} AS feature, w{j} AS weight_nano FROM {_CLS64_WFINAL}"
        for j in range(_CLS_D64)
    ),
    doc="Quality-classifier training at PRODUCTION feature width: the "
    "same 12-round fast-sigmoid GD loop as ml_logreg_train, but over "
    "d=64 HASHED-unigram bucket features (bias + 63 md5-portable token "
    "buckets — the DSIR hashing trick of sm9_importance_resample applied "
    "to the classifier; d=5 hand-picked ratios is a toy dimension). The "
    "loop is d-agnostic: each round is still ONE map-side-combinable "
    "aggregate, now producing d=64 integer-nano gradient sums — feature "
    "width scales the aggregate ROW (64 vs 5 integers per partition), "
    "never the shuffle row count, which is the property that makes wide "
    "hashed featurization 100 TB-safe. Oracle: the identical unrolled "
    "materialized CTEs, generated per-feature.",
)
def ml_logreg_train_d64(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w, _feats = classifier.train_linear_scorer(
        docs,
        iterations=_CLS_ITER,
        lr_num=_CLS_LR_NUM,
        lr_den=_CLS_LR_DEN,
        features="hashed",
    )
    out = spark.createDataFrame(
        [(j, int(w[j])) for j in range(len(w))], "feature INT, weight_nano LONG"
    )
    return out


@register(
    "ml_logreg_eval",
    oracle=_CLS_WITH + f""",
    scored AS (
        SELECT y, CASE WHEN (0.5 + z / (2.0 * (1.0 + abs(z)))) >= 0.5
                       THEN 1 ELSE 0 END AS p
        FROM (SELECT f.*, ({" + ".join(
            f"f.x{j} * (w.w{j} / 1000000000.0)" for j in range(_CLS_D)
        )}) AS z FROM feats f CROSS JOIN {_CLS_WFINAL} w)
    )
    SELECT CAST(coalesce(SUM(p * y), 0) AS BIGINT) AS tp,
           CAST(coalesce(SUM(p * (1 - y)), 0) AS BIGINT) AS fp,
           CAST(coalesce(SUM((1 - p) * y), 0) AS BIGINT) AS fn,
           CAST(coalesce(SUM((1 - p) * (1 - y)), 0) AS BIGINT) AS tn,
           {sql_round("AVG(CASE WHEN p = y THEN 1.0 ELSE 0.0 END)", 6)}
               AS accuracy
    FROM scored
    """,
    doc="Train-then-evaluate round trip for the quality classifier: the "
    "trained weights (same unrolled loop as ml_logreg_train) score the "
    "corpus in one narrow pass and the confusion matrix aggregates to a "
    "single row — the quality-gate calibration report a curation "
    "pipeline publishes before enabling the classifier filter.",
)
def ml_logreg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w, feats = classifier.train_linear_scorer(
        docs, iterations=_CLS_ITER, lr_num=_CLS_LR_NUM, lr_den=_CLS_LR_DEN
    )
    # score from the CACHED feature frame (one cache scan) — not from the
    # raw corpus, which would re-pay the tokenize/regex feature pass
    n = F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")
    out = classifier.evaluate_scorer(feats, w).select(
        "tp",
        "fp",
        "fn",
        "tn",
        # when-guard: on an empty corpus the matrix is all zeros and the
        # oracle's AVG over zero rows is NULL — 0/0 would be NaN here
        F.when(
            n > 0,
            portable_round(
                (F.col("tp") + F.col("tn")).cast("double") / n.cast("double"), 6
            ),
        ).alias("accuracy"),
    )
    return out


@register(
    "ml_logreg_calibration",
    oracle=_CLS_WITH + f""",
    scored AS (
        SELECT y, (0.5 + z / (2.0 * (1.0 + abs(z)))) AS s
        FROM (SELECT f.*, ({" + ".join(
            f"f.x{j} * (w.w{j} / 1000000000.0)" for j in range(_CLS_D)
        )}) AS z FROM feats f CROSS JOIN {_CLS_WFINAL} w)
    )
    SELECT CAST(floor(s * 10) AS INTEGER) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_round("CAST(SUM(y) AS DOUBLE) / COUNT(*)", 6)} AS frac_pos,
           {sql_round(
               "CAST(SUM(CAST(floor(s * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)"
               " / 1e9 / COUNT(*)", 6)} AS mean_score
    FROM scored
    GROUP BY 1
    """,
    doc="Calibration (reliability-diagram) report for the trained quality "
    "classifier — the artifact a production gate publishes alongside the "
    "confusion matrix before enabling a score THRESHOLD: decile-bin the "
    "predicted score (fast_sigmoid is strictly inside (0,1), so "
    "floor(s*10) yields exactly bins 0..9 on identical doubles in both "
    "engines) and report each bin's size, empirical positive rate, and "
    "mean predicted score; a well-calibrated scorer has frac_pos tracking "
    "mean_score per bin. One cache scan over the TRAINED feature frame + "
    "one 10-key map-side-combined aggregate; the mean score crosses the "
    "shuffle as exact integer nanos (the repo's order-independent-floats "
    "doctrine), so the report replays bit-exactly in DuckDB through the "
    "same unrolled training CTEs.",
)
def ml_logreg_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w, feats = classifier.train_linear_scorer(
        docs, iterations=_CLS_ITER, lr_num=_CLS_LR_NUM, lr_den=_CLS_LR_DEN
    )
    cols = [F.col(f"x{j}") for j in range(len(w))]
    s = classifier.linear_score_expr(cols, w)
    n = F.count(F.lit(1))
    out = (
        feats.select(
            "y",
            F.floor(s * F.lit(10)).cast("int").alias("bin"),
            F.floor(s * F.lit(1e9) + F.lit(0.5)).cast("bigint").alias("_s_nano"),
        )
        .groupBy("bin")
        .agg(
            n.alias("n"),
            portable_round(F.sum("y").cast("double") / n, 6).alias("frac_pos"),
            portable_round(
                F.sum("_s_nano").cast("double") / F.lit(1e9) / n, 6
            ).alias("mean_score"),
        )
    )
    return out


# deterministic 80/20 train/holdout split for the classifier: the
# dd_hash_split primitive (md5(salt||id) thresholded), so membership is a
# pure function of doc_id — frozen eval set under corpus growth
_CLS_SPLIT_SALT = "cls-holdout:v1"
_CLS_TRAIN_FRAC = 0.8
_CLS_SPLIT_THRESHOLD = int(_CLS_TRAIN_FRAC * splits.HASH_SPACE)
_CLS_TRAIN_PRED = (
    splits.sql_hash_uint32("doc_id", _CLS_SPLIT_SALT)
    + f" < {_CLS_SPLIT_THRESHOLD}"
)
_CLS_HOLD_WITH, _CLS_HOLD_WFINAL = _logreg_sql(where=_CLS_TRAIN_PRED)


@register(
    "ml_logreg_holdout",
    oracle=_CLS_HOLD_WITH + f""",
    feats_holdout AS MATERIALIZED (
        {_cls_feats_sql("NOT (" + _CLS_TRAIN_PRED + ")")}
    ),
    scored AS (
        SELECT y, CASE WHEN (0.5 + z / (2.0 * (1.0 + abs(z)))) >= 0.5
                       THEN 1 ELSE 0 END AS p
        FROM (SELECT f.*, ({" + ".join(
            f"f.x{j} * (w.w{j} / 1000000000.0)" for j in range(_CLS_D)
        )}) AS z FROM feats_holdout f CROSS JOIN {_CLS_HOLD_WFINAL} w)
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM cnt) AS n_train,
           CAST(COUNT(*) AS BIGINT) AS n_holdout,
           CAST(coalesce(SUM(p * y), 0) AS BIGINT) AS tp,
           CAST(coalesce(SUM(p * (1 - y)), 0) AS BIGINT) AS fp,
           CAST(coalesce(SUM((1 - p) * y), 0) AS BIGINT) AS fn,
           CAST(coalesce(SUM((1 - p) * (1 - y)), 0) AS BIGINT) AS tn,
           {sql_round("AVG(CASE WHEN p = y THEN 1.0 ELSE 0.0 END)", 6)}
               AS accuracy
    FROM scored
    """,
    doc="HELD-OUT evaluation of the quality classifier — the number a "
    "FineWeb-style distillation gate actually publishes (train-set "
    "accuracy flatters the scorer). Deterministic md5 80/20 split on "
    "doc_id (the dd_hash_split primitive: membership never moves under "
    "corpus growth), train the 12-round scorer on the 80% only, score "
    "the unseen 20% in one narrow pass. Both the training loop and the "
    "holdout confusion matrix replay bit-exactly in DuckDB (same "
    "unrolled materialized CTEs with the split predicate in the feats "
    "CTE).",
)
def ml_logreg_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = splits.hash_uint32(F.col("doc_id"), _CLS_SPLIT_SALT)
    train = docs.filter(h < F.lit(_CLS_SPLIT_THRESHOLD))
    holdout = docs.filter(~(h < F.lit(_CLS_SPLIT_THRESHOLD)))
    w, feats = classifier.train_linear_scorer(
        train, iterations=_CLS_ITER, lr_num=_CLS_LR_NUM, lr_den=_CLS_LR_DEN
    )
    return _holdout_report(w, feats, holdout, features="quality")


def _holdout_report(
    w: list[int],
    feats: DataFrame,
    holdout: DataFrame,
    *,
    features: str,
) -> DataFrame:
    """Shared tail of the two holdout queries: n_train from the CACHED
    train feature frame (one cache statistic), holdout features as a
    fresh narrow pass over the unseen split, confusion matrix + guarded
    accuracy (the oracle's AVG over an empty scored set is NULL; 0/0
    here would be NaN)."""
    n_train = feats.count()
    conf = classifier.evaluate_scorer(
        classifier.featurize(holdout, features=features), w
    )
    n_hold = F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")
    out = conf.select(
        F.lit(n_train).cast("long").alias("n_train"),
        n_hold.cast("long").alias("n_holdout"),
        "tp",
        "fp",
        "fn",
        "tn",
        F.when(
            n_hold > 0,
            portable_round(
                (F.col("tp") + F.col("tn")).cast("double") / n_hold.cast("double"),
                6,
            ),
        ).alias("accuracy"),
    )
    return out


_CLS64H_WITH, _CLS64H_WFINAL = _logreg_sql(
    d=_CLS_D64,
    feats_sql=_cls_feats_hashed_sql(
        _CLS_D64 - 5, classifier.HASHED_SALT, where=_CLS_TRAIN_PRED
    ),
)
_CLS64_Z = " + ".join(
    f"f.x{j} * (w.w{j} / 1000000000.0)" for j in range(_CLS_D64)
)


@register(
    "ml_logreg_holdout_d64",
    oracle=_CLS64H_WITH + f""",
    feats_holdout AS MATERIALIZED (
        {_cls_feats_hashed_sql(_CLS_D64 - 5, classifier.HASHED_SALT,
                               where="NOT (" + _CLS_TRAIN_PRED + ")")}
    ),
    scored AS (
        SELECT y, CASE WHEN (0.5 + z / (2.0 * (1.0 + abs(z)))) >= 0.5
                       THEN 1 ELSE 0 END AS p
        FROM (SELECT f.*, ({_CLS64_Z}) AS z
              FROM feats_holdout f CROSS JOIN {_CLS64H_WFINAL} w)
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM cnt) AS n_train,
           CAST(COUNT(*) AS BIGINT) AS n_holdout,
           CAST(coalesce(SUM(p * y), 0) AS BIGINT) AS tp,
           CAST(coalesce(SUM(p * (1 - y)), 0) AS BIGINT) AS fp,
           CAST(coalesce(SUM((1 - p) * y), 0) AS BIGINT) AS fn,
           CAST(coalesce(SUM((1 - p) * (1 - y)), 0) AS BIGINT) AS tn,
           {sql_round("AVG(CASE WHEN p = y THEN 1.0 ELSE 0.0 END)", 6)}
               AS accuracy
    FROM scored
    """,
    doc="HELD-OUT evaluation at PRODUCTION feature width: the same "
    "deterministic md5 80/20 split as ml_logreg_holdout, but training "
    "and scoring on the d=64 hashed-unigram geometry — the apples-to-"
    "apples number that says whether the wide hashed features actually "
    "generalize better than the d=5 hand-picked ratios (train-set "
    "accuracy flatters wide geometries; this is the comparison a "
    "distillation gate publishes before switching feature sets). Same "
    "unrolled materialized-CTE replay, generated per-feature at d=64 "
    "with the split predicate in the feats CTE.",
)
def ml_logreg_holdout_d64(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = splits.hash_uint32(F.col("doc_id"), _CLS_SPLIT_SALT)
    train = docs.filter(h < F.lit(_CLS_SPLIT_THRESHOLD))
    holdout = docs.filter(~(h < F.lit(_CLS_SPLIT_THRESHOLD)))
    w, feats = classifier.train_linear_scorer(
        train,
        iterations=_CLS_ITER,
        lr_num=_CLS_LR_NUM,
        lr_den=_CLS_LR_DEN,
        features="hashed",
    )
    return _holdout_report(w, feats, holdout, features="hashed")


# ---------------------------------------------------------------------------
# Classifier-gated curation (VERDICT r8 #6) — the complete FineWeb shape
# in one oracle-checked query: TRAIN the d=64 hashed scorer on the
# deterministic 80% split, then APPLY it at corpus scale as curate()'s
# quality stage (replacing the punct-ratio heuristic), with the exact
# dedup + near-dup canonicalization stages downstream unchanged. The
# gate uses classifier.hashed_score_expr — the integer-nano PER-TOKEN
# FOLD (sum over tokens of w[bucket(tok)], then one division), so the
# filter references the md5 bucket array exactly once and the bucket
# contribution replays in DuckDB as an order-independent list sum.
# ---------------------------------------------------------------------------
_CLS64_WLIST = ", ".join(f"w.w{j}" for j in range(5, _CLS_D64))
_CLS_GATE_BUCKET = _hashed_bucket_sql(_CLS_D64 - 5, classifier.HASHED_SALT)
#: mirrors classifier.hashed_score_expr's z literally: the d=5 head as a
#: left-associated chain (x0 = 1.0 bias), then the bucket term —
#: (CAST(integer-nano fold AS DOUBLE) / 1e9) / n. Every double op is
#: exactly-rounded IEEE and the fold summands are integers, so the value
#: is engine-invariant (the sigmoid threshold then compares equal bits).
_CLS_GATE_Z = (
    "(w.w0 / 1000000000.0) * 1.0"
    " + (w.w1 / 1000000000.0) * (CAST(en_hits AS DOUBLE) / nn)"
    " + (w.w2 / 1000000000.0) * (CAST(es_hits AS DOUBLE) / nn)"
    " + (w.w3 / 1000000000.0) * (pp / cc)"
    " + (w.w4 / 1000000000.0) * (least(nn, 100.0) / 100.0)"
    " + (CAST(coalesce(list_aggregate(list_transform(bs, b -> "
    f"[{_CLS64_WLIST}][b + 1]), 'sum'), 0) AS DOUBLE) / 1000000000.0) / nn"
)
_CLS_CURATED_SQL = f"""
    cls_hits AS (
        SELECT doc_id, text,
               {_LANG_HITS['en']} AS en_hits,
               {_LANG_HITS['es']} AS es_hits,
               {_LANG_HITS['de']} AS de_hits,
               len(string_split(text, ' ')) AS n_tokens,
               CAST(greatest(len(string_split(text, ' ')), 1) AS DOUBLE) AS nn,
               CAST(greatest(length(text), 1) AS DOUBLE) AS cc,
               CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))
                    AS DOUBLE) AS pp,
               list_transform(string_split(text, ' '),
                              tok -> {_CLS_GATE_BUCKET}) AS bs
        FROM documents
    ), curated_filtered AS (
        SELECT doc_id, text, CAST(n_tokens AS INTEGER) AS n_tokens
        FROM (SELECT h.*, ({_CLS_GATE_Z}) AS zc
              FROM cls_hits h CROSS JOIN {_CLS64H_WFINAL} w)
        WHERE (CASE
                   WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits > 0
                       THEN 'en'
                   WHEN es_hits >= de_hits AND es_hits > 0 THEN 'es'
                   WHEN de_hits > 0 THEN 'de'
                   ELSE 'unknown' END) = 'en'
          AND n_tokens >= 5
          AND (0.5 + zc / (2.0 * (1.0 + abs(zc)))) >= 0.5
    ), curated_exact AS (
        SELECT doc_id, text, n_tokens FROM curated_filtered
        QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
    )
"""


#: shared by dd_curation_classifier and dd_curation_classifier_ppjoin:
#: the two queries differ ONLY in the physical candidate generator
#: (plain inverted-index join vs PPJoin prefix filter); ppjoin_pairs is
#: EXACT (same verified pair set by construction, equality pinned in
#: tests/test_llmops_algos.py), so one oracle replay covers both.
_CLS_CURATION_ORACLE = (
    "WITH RECURSIVE "
    + _CLS64H_WITH.removeprefix("WITH ")
    + ","
    + _CLS_CURATED_SQL
    + f""",
    pairs AS ({_jaccard_pairs_sql('curated_exact')}),
    edges AS (
        SELECT doc1 AS a, doc2 AS b FROM pairs
        UNION SELECT doc2, doc1 FROM pairs
    ),
    reach(node, r) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, re.r FROM edges e JOIN reach re ON e.b = re.node
    )
    SELECT doc_id, n_tokens FROM curated_exact
    WHERE doc_id NOT IN (
        SELECT node FROM (SELECT node, MIN(r) AS c FROM reach GROUP BY node)
        WHERE node <> c
    )
    """
)


@register(
    "dd_curation_classifier",
    oracle=_CLS_CURATION_ORACLE,
    doc="END-TO-END curation with a TRAINED quality gate — the complete "
    "FineWeb shape (train -> holdout-gate -> apply at corpus scale) as "
    "one query: the d=64 hashed-unigram scorer trains on the "
    "deterministic md5 80% split (same 12-round integer-nano GD as "
    "ml_logreg_holdout_d64), then gates the FULL corpus as curate()'s "
    "stage-2 quality filter in place of the punct-ratio heuristic; "
    "language-ID, exact dedup, and near-dup canonicalization are the "
    "dd_curation_pipeline stages unchanged. The gate is the integer-"
    "nano per-token fold (one md5 pass per row, O(tokens) not "
    "O(d*tokens)), so the ENTIRE train+apply pipeline replays in DuckDB: "
    "unrolled training CTEs feed the scored WHERE clause, then the same "
    "recursive-CTE component fixpoint.",
)
def dd_curation_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecommerce_etl_pipeline_spark.llmops import curation

    docs = load_table(spark, sf_dir, "documents")
    h = splits.hash_uint32(F.col("doc_id"), _CLS_SPLIT_SALT)
    train = docs.filter(h < F.lit(_CLS_SPLIT_THRESHOLD))
    w, _feats = classifier.train_linear_scorer(
        train,
        iterations=_CLS_ITER,
        lr_num=_CLS_LR_NUM,
        lr_den=_CLS_LR_DEN,
        features="hashed",
    )
    curated = curation.curate(docs, use_minhash=False, classifier_weights=w)
    out = curated.select("doc_id", F.col("n_tokens").cast("int").alias("n_tokens"))
    return out


@register(
    "dd_curation_classifier_ppjoin",
    oracle=_CLS_CURATION_ORACLE,
    doc="The 100 TB PRODUCTION COMPOSITION of the classifier-gated "
    "curation pipeline (VERDICT r9 'What's missing' #3): the SAME "
    "trained d=64 gate as dd_curation_classifier (one integer-nano md5 "
    "fold per row), but the near-dup candidate stage runs through the "
    "PPJoin PREFIX FILTER instead of the plain inverted-index join — "
    "curate(classifier_weights=w, use_ppjoin=True, use_minhash=False). "
    "ppjoin_pairs is EXACT (prefix + length + positional filters only "
    "prune candidates that provably cannot clear the Jaccard threshold), "
    "so the result set is IDENTICAL to the exact-jaccard venue by "
    "construction and the two queries share one DuckDB oracle; what "
    "changes is the scale shape — candidate fan-out stays linear on "
    "df-skewed (Zipf) corpora where the plain index's sum(df^2) is "
    "dominated by hot boilerplate shingles (scripts/check_zipf.py pins "
    "this composed pipeline's kept-doc counts at both Zipf decades). "
    "This is the plan a 1000-executor run would ship: trained gate + "
    "prefix-filter candidates.",
)
def dd_curation_classifier_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecommerce_etl_pipeline_spark.llmops import curation

    docs = load_table(spark, sf_dir, "documents")
    h = splits.hash_uint32(F.col("doc_id"), _CLS_SPLIT_SALT)
    train = docs.filter(h < F.lit(_CLS_SPLIT_THRESHOLD))
    w, _feats = classifier.train_linear_scorer(
        train,
        iterations=_CLS_ITER,
        lr_num=_CLS_LR_NUM,
        lr_den=_CLS_LR_DEN,
        features="hashed",
    )
    curated = curation.curate(
        docs, use_minhash=False, use_ppjoin=True, classifier_weights=w
    )
    out = curated.select("doc_id", F.col("n_tokens").cast("int").alias("n_tokens"))
    return out


# ---------------------------------------------------------------------------
# Cluster-safe (leakage-safe) splitting (round 12): dd_hash_split assigns
# splits per document, and the decontamination family REMOVES leakage
# post-hoc — this operator PREVENTS it at assignment time by hashing the
# near-duplicate CLUSTER, so two documents with jaccard >= 0.5
# (transitively) can never straddle train/test. Composes two certified
# oracles verbatim: dd_dup_clusters' recursive-CTE components over the
# md5-portable MinHash banding, and dd_hash_split's threshold CASE.
# ---------------------------------------------------------------------------


_CSS_CASE = splits.split_thresholds_sql(
    "COALESCE(c.component, d.doc_id)", _SPLIT_WEIGHTS, "split:v1"
)


@register(
    "dd_cluster_safe_split",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_minhash_pairs_sql()}),
    edges AS (
        SELECT doc1 AS a, doc2 AS b FROM pairs
        UNION SELECT doc2, doc1 FROM pairs
    ),
    reach(node, r) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, re.r FROM edges e JOIN reach re ON e.b = re.node
    ),
    comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
    SELECT d.doc_id,
           COALESCE(c.component, d.doc_id) AS cluster_id,
           {_CSS_CASE} AS split
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    """,
    doc="Leakage-safe train/val/test split: near-dup clusters (the "
    "certified MinHash banding + min-label connected components) are "
    "hashed as a UNIT — every member inherits the cluster "
    "representative's md5 split — so near-duplicate documents can never "
    "straddle splits (the leakage the decontam family otherwise has to "
    "remove post-hoc). Singletons hash their own doc_id with the same "
    "salt, so they receive EXACTLY dd_hash_split's assignment: adopting "
    "the cluster-safe split migrates only documents that have a "
    "near-duplicate. Scale shape: banded candidate pairs (never "
    "all-pairs), components over the pair graph only (bounded by dup "
    "density, the dd_dup_clusters venue), one broadcast-or-shuffle "
    "left join back to the corpus, then a narrow md5 map — stable "
    "under corpus growth exactly like dd_hash_split (a new document "
    "can only move an EXISTING one by joining its cluster, which is "
    "the correctness requirement, not a defect). The leakage "
    "invariant is pytest-pinned pair-by-pair; singleton parity with "
    "dd_hash_split is pinned in the same test.",
)
def dd_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecommerce_etl_pipeline_spark.llmops.clustering import connected_components

    docs = load_table(spark, sf_dir, "documents")
    cand = dedup.minhash_candidate_pairs(docs, portable=True)
    pairs = cand.filter(F.col("jaccard") >= 0.5)
    comps = connected_components(pairs)
    keyed = docs.join(
        comps, docs.doc_id == comps.node, "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id"),
    )
    out = splits.assign_splits(keyed, "cluster_id", _SPLIT_WEIGHTS).select(
        "doc_id", "cluster_id", "split"
    )
    return out

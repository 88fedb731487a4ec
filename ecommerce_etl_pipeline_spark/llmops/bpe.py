"""Distributed BPE tokenizer training (Sennrich et al. 2016, "Neural
Machine Translation of Rare Words with Subword Units") as a DataFrame
program.

The algorithm iterates: count adjacent symbol pairs across the corpus,
merge the most frequent pair everywhere, repeat. The distributed insight
is the same one every production tokenizer trainer uses: after the first
aggregation the working set is the WORD-TYPE table (distinct words with
corpus counts — Zipf-small relative to the corpus), so each merge round
is one narrow per-word fold plus one vocabulary-sized aggregate, and the
driver holds only the merge list (the model — the same bounded class as
kmeans_train_portable's centroid matrix). The 100 TB corpus is touched exactly
once, by the initial word-count shuffle.

Determinism: pair-count ties break lexicographically on (left, right), so
the merge list is a pure function of the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ecommerce_etl_pipeline_spark.llmops import text as T
from ecommerce_etl_pipeline_spark.operators import venue
from ecommerce_etl_pipeline_spark.operators.parallelism import ensure_parallelism

#: end-of-word marker appended to every word's symbol sequence (the
#: classic construction: lets merges distinguish word-final subwords).
EOW = "</w>"

#: Driver-venue budget of :func:`bpe_train`, in word types.
DRIVER_VOCAB_ROWS = 200_000


def word_counts(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Corpus word-type table: (w, cnt). The ONLY corpus-wide shuffle in
    BPE training; everything after runs on this Zipf-small table."""
    return (
        ensure_parallelism(docs)
        .select(F.explode(T.tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _initial_symbols(w: F.Column) -> F.Column:
    """Word → its character symbols + the end-of-word marker. An EMPTY
    word type (a corpus with doubled spaces produces one) is just
    ``[EOW]`` — pinned explicitly because ``split('', '')`` yields
    ``['']`` and a phantom empty symbol would make the distributed path
    diverge from the driver trainer, :func:`bpe_encode`, and the DuckDB
    oracle (whose ``generate_series(1, length(w))`` is naturally empty)."""
    return F.when(
        F.length(w) > 0, F.concat(F.split(w, ""), F.array(F.lit(EOW)))
    ).otherwise(F.array(F.lit(EOW)))


def _merge_pair(symbols: F.Column, left: str, right: str) -> F.Column:
    """Greedy left-to-right non-overlapping merge of (left, right) into
    one symbol — one fold with a pending-symbol buffer, so "aaa" under
    ("a","a") becomes ["aa","a"], exactly the reference algorithm."""
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("pend"),
    )

    def step(acc: F.Column, s: F.Column) -> F.Column:
        hit = (acc["pend"] == F.lit(left)) & (s == F.lit(right))
        return F.struct(
            F.when(acc["pend"].isNull(), acc["out"])
            .when(hit, F.concat(acc["out"], F.array(F.lit(left + right))))
            .otherwise(F.concat(acc["out"], F.array(acc["pend"])))
            .alias("out"),
            F.when(acc["pend"].isNull() | ~hit, s)
            .otherwise(F.lit(None).cast("string"))
            .alias("pend"),
        )

    return F.aggregate(
        symbols,
        init,
        step,
        lambda acc: F.when(
            acc["pend"].isNull(), acc["out"]
        ).otherwise(F.concat(acc["out"], F.array(acc["pend"]))),
    )


def _adjacent_pairs(symbols: F.Column) -> F.Column:
    """(a, b) structs of adjacent symbols (empty below 2 symbols)."""
    n = F.size(symbols)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(symbols, 1, n - 1),
            F.slice(symbols, 2, n - 1),
            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))


def bpe_train(
    docs: DataFrame,
    *,
    text_col: str = "text",
    num_merges: int = 20,
    min_pair_count: int = 2,
    word_counts_df: DataFrame | None = None,
) -> list[tuple[str, str, int]]:
    """Learn up to ``num_merges`` BPE merges from the corpus. Returns the
    ordered merge list [(left, right, pair_count), ...] — the tokenizer
    model. Stops early when no pair reaches ``min_pair_count``.

    Driver venue: up to ``DRIVER_VOCAB_ROWS`` word types, which are then
    the whole vocabulary (:func:`_driver_train`). This is what every
    production tokenizer trainer does (count at corpus scale, merge on one
    node); the corpus pays exactly its one word-count shuffle. Otherwise
    the distributed loop runs — each round one vocabulary-sized pair
    aggregate (weighted by word count, map-side combinable) + one
    driver-collected argmax row, then a narrow per-word-type fold applying
    the merge, localCheckpoint()ed every few rounds so lineage (and plan
    depth) stays bounded at any merge count.

    ``word_counts_df`` lets a caller that also needs the word-type table
    (txt_bpe_token_counts trains AND applies) pass a precomputed —
    ideally persisted — frame so the corpus is tokenized once across the
    whole pipeline. NOTE the reuse assumption when it is NOT persisted:
    "the corpus pays exactly its one word-count shuffle" then holds only
    via Spark's shuffle-FILE reuse (the probe and, over budget, the loop
    re-run the same exchange and hit its map outputs); shuffle reuse does
    not cover the pre-shuffle scan+tokenize of a transformed frame, so a
    caller passing an unpersisted derived frame re-pays that scan. Pass a
    ``.persist()``-ed frame (as both registered BPE queries do) when the
    corpus scan is the expensive part.

    Both paths implement identical greedy semantics (same argmax
    tie-breaks, same pending-buffer merge via :func:`_merge_syms`),
    pinned against each other and against a pure-Python reference in
    tests/test_bpe.py — which is also what makes the result a pure
    function of the corpus, replayable in the DuckDB oracles regardless
    of path.
    """
    wc = (
        word_counts_df
        if word_counts_df is not None
        else word_counts(docs, text_col=text_col)
    )
    head = venue.driver_rows(wc, DRIVER_VOCAB_ROWS, "bpe_train")
    if head is not None:
        return _driver_train(
            dict(zip(head["w"].tolist(), head["cnt"].tolist())),
            num_merges,
            min_pair_count,
        )
    vocab = wc.select(_initial_symbols(F.col("w")).alias("syms"), "cnt")
    merges: list[tuple[str, str, int]] = []
    for i in range(num_merges):
        top = (
            vocab.select(F.explode(_adjacent_pairs(F.col("syms"))).alias("p"), "cnt")
            .groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < min_pair_count:
            break
        left, right, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
        merges.append((left, right, n))
        vocab = vocab.select(
            _merge_pair(F.col("syms"), left, right).alias("syms"), "cnt"
        )
        if (i + 1) % 5 == 0:
            # bound lineage depth: each round nests another fold into the
            # plan; checkpointing keeps analysis/codegen cost O(1) per round
            vocab = vocab.localCheckpoint(eager=False)
    return merges


def _merge_syms(syms: list[str] | tuple[str, ...], left: str, right: str) -> list[str]:
    """Pure-Python pending-buffer greedy merge — the in-memory twin of the
    :func:`_merge_pair` fold ("aaa" under (a,a) -> ["aa","a"]). THE single
    source of the semantics for both :func:`_driver_train` and
    :func:`bpe_encode`; the independent copy in tests/_ref_train stays
    separate on purpose (it is the reference the others are pinned to)."""
    out: list[str] = []
    pend: str | None = None
    for s in syms:
        if pend is None:
            pend = s
        elif pend == left and s == right:
            out.append(left + right)
            pend = None
        else:
            out.append(pend)
            pend = s
    if pend is not None:
        out.append(pend)
    return out


def _driver_train(
    wc: dict[str, int], num_merges: int, min_pair_count: int
) -> list[tuple[str, str, int]]:
    """In-memory merge loop over a collected word-count dict — semantics
    identical to the distributed loop (greedy pending-buffer merge, argmax
    ties broken (count desc, left asc, right asc)). Empty word types get
    just [EOW], matching _initial_symbols / the oracle."""
    vocab: dict[str, tuple[tuple[str, ...], int]] = {
        w: (tuple(list(w) + [EOW]), c) for w, c in wc.items()
    }
    merges: list[tuple[str, str, int]] = []
    for _ in range(num_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, c in vocab.values():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        (left, right), n = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if n < min_pair_count:
            break
        merges.append((left, right, n))
        vocab = {
            w: (tuple(_merge_syms(syms, left, right)), c)
            for w, (syms, c) in vocab.items()
        }
    return merges


def bpe_apply(
    words: DataFrame,
    merges: list[tuple[str, str, int]],
    *,
    word_col: str = "w",
) -> DataFrame:
    """Apply a trained merge list to a word-type table: (w, …) →
    (w, …, syms) with every merge folded in order — the DISTRIBUTED form
    of :func:`bpe_encode`, and the tokenizer-application half of the
    pipeline (train once, tokenize the corpus forever).

    Scale shape: tokenizing a 100 TB corpus never touches the corpus with
    the merges at all — the merges apply to the Zipf-small word-TYPE
    table (this function), and the corpus then joins words to their final
    segmentations. Lineage is localCheckpoint-bounded every 5 merges,
    same as training.
    """
    out = words.withColumn("syms", _initial_symbols(F.col(word_col)))
    for i, (left, right, _n) in enumerate(merges):
        out = out.withColumn("syms", _merge_pair(F.col("syms"), left, right))
        if (i + 1) % 5 == 0:
            out = out.localCheckpoint(eager=False)
    return out


def bpe_encode(symbols_word: str, merges: list[tuple[str, str, int]]) -> list[str]:
    """Reference (driver-side) encoder for ONE word — applies the learned
    merges in order. Used by tests to cross-check the distributed trainer
    against a pure-Python replay; corpus-scale encoding would apply the
    same fold per document (see txt_vocab_encode for the applied form)."""
    syms = list(symbols_word) + [EOW]
    for left, right, _ in merges:
        syms = _merge_syms(syms, left, right)
    return syms

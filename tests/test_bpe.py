"""Distributed BPE trainer vs a pure-Python reference replay: identical
merge lists (order, pairs, counts) on crafted and real corpora, plus the
greedy-merge edge cases (overlapping runs, early stop)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ecommerce_etl_pipeline_spark.llmops.bpe import (
    EOW,
    bpe_encode,
    bpe_train,
    word_counts,
)
from ecommerce_etl_pipeline_spark.sources.io import load_table

from tests.conftest import SF_SMOKE


def _ref_train(wc: dict[str, int], num_merges: int, min_pair_count: int = 2):
    vocab = {w: (tuple(list(w) + [EOW]), c) for w, c in wc.items()}
    merges = []
    for _ in range(num_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, c in vocab.values():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        (a, b), n = sorted(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[0]
        if n < min_pair_count:
            break
        merges.append((a, b, n))
        new_vocab = {}
        for w, (syms, c) in vocab.items():
            out: list[str] = []
            pend = None
            for s in syms:
                if pend is None:
                    pend = s
                elif pend == a and s == b:
                    out.append(a + b)
                    pend = None
                else:
                    out.append(pend)
                    pend = s
            if pend is not None:
                out.append(pend)
            new_vocab[w] = (tuple(out), c)
        vocab = new_vocab
    return merges


def test_bpe_train_matches_reference_on_real_corpus(spark, distributed_venue):
    """Covers BOTH strategy paths: the driver fast path (vocab under
    the budget — the default on this corpus) and the distributed merge
    loop (forced via distributed_venue) must produce the identical
    merge list, which must equal the pure-Python reference."""
    docs = load_table(spark, SF_SMOKE, "documents")
    wc = {r["w"]: r["cnt"] for r in word_counts(docs).collect()}
    got_driver = bpe_train(docs, num_merges=15)
    with distributed_venue():
        got_dist = bpe_train(docs, num_merges=15)
    want = _ref_train(wc, 15)
    assert got_driver == want, f"\ngot:  {got_driver}\nwant: {want}"
    assert got_dist == want
    assert len(want) == 15  # real corpus has plenty of repeated pairs


def test_bpe_overlapping_runs_and_early_stop(spark, distributed_venue):
    # "aaaa" x3: first merge is (a,a); greedy non-overlap gives [aa,aa,</w>]
    docs = spark.createDataFrame([(1, "aaaa aaaa aaaa")], "doc_id LONG, text STRING")
    # force the DISTRIBUTED loop so its greedy-merge edge cases stay covered
    with distributed_venue():
        merges = bpe_train(docs, num_merges=10)
    ref = _ref_train({"aaaa": 3}, 10)
    assert merges == ref
    assert bpe_train(docs, num_merges=10) == ref  # driver path agrees
    assert merges[0][:2] == ("a", "a")
    # encoding replays to full-word tokens via the learned merges
    enc = bpe_encode("aaaa", merges)
    assert "".join(enc) == "aaaa" + EOW
    # a corpus with no repeated pair stops immediately
    unique = spark.createDataFrame([(1, "xy")], "doc_id LONG, text STRING")
    assert bpe_train(unique, num_merges=5) == []
    with distributed_venue():
        assert bpe_train(unique, num_merges=5) == []


def test_bpe_apply_matches_driver_encoder(spark):
    """Distributed tokenizer application (bpe_apply) == the pure-Python
    per-word encoder (bpe_encode), word for word — the train/apply round
    trip that txt_bpe_token_counts' oracle relies on."""
    from ecommerce_etl_pipeline_spark.llmops.bpe import bpe_apply

    docs = load_table(spark, SF_SMOKE, "documents")
    merges = bpe_train(docs, num_merges=12)
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("w")).distinct()
    )
    got = {r["w"]: list(r["syms"]) for r in bpe_apply(vocab, merges).collect()}
    assert len(got) > 0
    for w, syms in got.items():
        assert syms == bpe_encode(w, merges), w
        assert "".join(syms) == w + EOW  # lossless segmentation


def test_bpe_paths_agree_on_empty_word_types(spark, distributed_venue):
    """Doubled spaces produce the '' word type; both strategy paths (and
    bpe_encode) must treat it as [EOW] alone — a phantom '' symbol in the
    distributed path once made the trained merges depend on which path
    the vocabulary size selected."""
    docs = spark.createDataFrame(
        [(1, "ab  ab"), (2, "ab  ab"), (3, " ab")], "doc_id LONG, text STRING"
    )
    wc = {r["w"]: r["cnt"] for r in word_counts(docs).collect()}
    assert "" in wc  # the fixture really exercises the empty type
    want = _ref_train(wc, 5)
    assert bpe_train(docs, num_merges=5) == want
    with distributed_venue():
        assert bpe_train(docs, num_merges=5) == want

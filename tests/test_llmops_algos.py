"""Unit checks for the iterative / ML-assisted llmops operators that oracle
parity can't fully pin: connected components on a handcrafted graph, IVF
recall against the brute-force ground truth, curation stage monotonicity."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ecommerce_etl_pipeline_spark.llmops import curation, similarity
from ecommerce_etl_pipeline_spark.llmops.clustering import (
    connected_components,
    ivf_topk_portable,
    kmeans_train_portable,
)
from ecommerce_etl_pipeline_spark.sources.io import load_table

@pytest.fixture(params=["local", "distributed"])
def cc_path(request, distributed_venue):
    """Driver union-find ("local") or distributed label propagation. Same
    semantics, both must pass everything."""
    if request.param == "local":
        yield
    else:
        with distributed_venue():
            yield


BOTH_PATHS = pytest.mark.usefixtures("cc_path")


@BOTH_PATHS
def test_connected_components_handcrafted(spark):
    # components: {1,2,3,4} (chain), {10,11}, pair-only {20,21}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20)], ["doc1", "doc2"]
    )
    got = {(r.node, r.component) for r in connected_components(edges).collect()}
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20),
    }


@BOTH_PATHS
def test_connected_components_converges_on_cycle(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], ["doc1", "doc2"])
    rows = connected_components(edges).collect()
    assert {r.component for r in rows} == {1}
    assert {r.node for r in rows} == {1, 2, 3}


@BOTH_PATHS
def test_connected_components_null_endpoints(spark):
    """A NULL endpoint joins no component and yields one (NULL, NULL) row,
    in the input id type, on both venues. Ids past 2**53 beside a NULL stay
    exact (pandas widens a nullable bigint column to float64)."""
    edges = spark.createDataFrame(
        [(1, 2), (None, 3), (3, 4)], "doc1 LONG, doc2 LONG"
    )
    out = connected_components(edges)
    assert [f.dataType.simpleString() for f in out.schema] == ["bigint", "bigint"]
    rows = [(r.node, r.component) for r in out.collect()]
    assert sorted(rows, key=str) == sorted(
        [(1, 1), (2, 1), (3, 3), (4, 3), (None, None)], key=str
    )

    big = 2**60 + 1
    wide = spark.createDataFrame(
        [(big, big + 2), (None, big + 4)], "doc1 LONG, doc2 LONG"
    )
    rows = {(r.node, r.component) for r in connected_components(wide).collect()}
    assert rows == {(big, big), (big + 2, big), (big + 4, big + 4), (None, None)}


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = similarity.brute_force_topk(emb, queries, k=10)
    approx = ivf_topk_portable(emb, queries, k=10, n_cells=8, n_probe=3)
    truth = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    got = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(truth & got) / len(truth)
    # 8 cells / 3 probes scans ~3/8 of the corpus; recall should be well
    # above that fraction because neighbors concentrate in nearby cells.
    assert recall >= 0.6, f"IVF recall@10 = {recall:.2f}"


def test_curation_stages_monotone_and_deduped(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    curated = curation.curate(docs, use_minhash=False)
    n_in, n_out = docs.count(), curated.count()
    assert 0 < n_out <= n_in
    # exact dedup happened: no two curated docs share identical text
    assert curated.select("text").distinct().count() == n_out
    # minhash variant agrees with the exact path on everything it keeps:
    # LSH may miss candidate pairs (=> keeps a few extra docs) but must
    # never drop a doc the exact path kept... both keep cluster minima, so
    # exact-kept ⊆ minhash-kept.
    kept_exact = {r.doc_id for r in curated.select("doc_id").collect()}
    kept_minhash = {
        r.doc_id
        for r in curation.curate(docs, use_minhash=True).select("doc_id").collect()
    }
    assert kept_exact <= kept_minhash


def test_multimodal_frame_sampling_and_resize(spark, sf_dir):
    from ecommerce_etl_pipeline_spark.llmops import multimodal

    docs = load_table(spark, sf_dir, "documents")
    assets = multimodal.assets_from_documents(docs)

    frames = multimodal.sample_frames(assets, frame_bytes=64, every_nth=4)
    rows = frames.limit(500).collect()
    assert rows and all(len(r.frame_payload) <= 64 for r in rows)
    assert all(r.frame_offset == r.frame_index * 64 for r in rows)
    # 1 -> N fan-out: more frames than assets for long docs, >=1 per asset
    per_asset = frames.groupBy("asset_id").count()
    assert per_asset.agg(F.min("count")).collect()[0][0] >= 1

    resized = multimodal.resize(assets, target_bytes=128)
    assert [(f.name, f.dataType) for f in resized.schema] == [
        (f.name, f.dataType) for f in assets.schema
    ]
    sizes = {r.n_bytes for r in resized.select("n_bytes").distinct().collect()}
    assert sizes == {128}


def test_winnow_fingerprints_overlap_guarantee(spark):
    from ecommerce_etl_pipeline_spark.llmops import text

    k, w = text.WINNOW_K, text.WINNOW_W
    shared = "the quick brown fox jumps over the lazy dog"  # >> k+w-1 chars
    docs = spark.createDataFrame(
        [
            (1, "alpha prefix " + shared),
            (2, shared + " entirely different suffix here"),
            (3, "zzzz qqqq vvvv xxxx wwww kkkk jjjj yyyy uuuu"),
        ],
        ["doc_id", "text"],
    )
    kg = docs.select("doc_id", text.kgram_rolling_hashes(F.col("text"), k).alias("kg"))
    fps = kg.select(
        "doc_id", F.explode(text.winnow_fingerprints(F.col("kg"), w)).alias("fp")
    )
    by_doc = {
        r.doc_id: set(r.fps)
        for r in fps.groupBy("doc_id").agg(F.collect_set("fp").alias("fps")).collect()
    }
    # winnowing guarantee: a shared substring of length >= k+w-1 shares >=1
    # fingerprint; doc 3 shares no k-gram with either
    assert by_doc[1] & by_doc[2]
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])
    # density: at most one fingerprint per window, far fewer than k-grams
    n_kgrams = len("alpha prefix " + shared) - k + 1
    assert len(by_doc[1]) < n_kgrams / 2


def test_winnow_overlap_pairs_containment(spark):
    from ecommerce_etl_pipeline_spark.llmops import dedup

    shared = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [
            (1, "alpha prefix " + shared),
            (2, shared + " entirely different suffix here"),
            (3, "zzzz qqqq vvvv xxxx wwww kkkk jjjj yyyy uuuu"),
        ],
        ["doc_id", "text"],
    )
    pairs = dedup.winnow_overlap_pairs(docs, min_shared=1, max_df=10).collect()
    found = {(r.doc1, r.doc2) for r in pairs}
    # docs 1 and 2 share a long passage -> containment pair; doc 3 pairs
    # with nothing
    assert (1, 2) in found
    assert all(3 not in p for p in found)
    row = next(r for r in pairs if (r.doc1, r.doc2) == (1, 2))
    assert 0 < row.overlap <= 1.0 and row.shared_fps >= 1


def test_pii_redaction_patterns_fire(spark):
    # the corpus has no PII; prove each pattern matches on crafted rows
    from ecommerce_etl_pipeline_spark.llmops.text import PII_PATTERNS, redacted_text

    rows = [
        (1, "contact me at alice.smith+x@example.co.uk for details"),
        (2, "server at 192.168.1.254 timed out"),
        (3, "card 4111111111111111 declined"),
        (4, "the customer asked about customers and customer"),  # word-boundary
        (5, "clean text with nothing sensitive"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = df.select(
        "doc_id",
        *[
            F.regexp_count(F.col("text"), F.lit(pat)).alias(f"n_{name}")
            for name, pat, _ in PII_PATTERNS
        ],
        redacted_text(F.col("text")).alias("red"),
    ).collect()
    by_id = {r.doc_id: r for r in out}
    assert by_id[1].n_email == 1 and "<EMAIL>" in by_id[1].red
    assert by_id[2].n_ipv4 == 1 and "<IP>" in by_id[2].red
    assert by_id[3].n_longnum == 1 and "<NUM>" in by_id[3].red
    # \bcustomer\b must not match inside "customers"
    assert by_id[4].n_blockterm == 2 and by_id[4].red.count("<TERM>") == 2
    assert "customers" in by_id[4].red
    assert by_id[5].red == rows[4][1]


def test_int8_quantization_roundtrip(spark):
    from ecommerce_etl_pipeline_spark.llmops.similarity import (
        brute_force_topk,
        quantize_int8,
        quantized_topk,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.select(quantize_int8(F.col("embedding")).alias("q")).limit(20)
    rows = q.select(
        F.array_max("q").alias("hi"), F.array_min("q").alias("lo")
    ).collect()
    # codes live in the int8 range and every vector hits +/-127 at its max
    assert all(-127 <= r.lo and r.hi <= 127 for r in rows)
    assert all(max(r.hi, -r.lo) == 127 for r in rows)

    # quantized ranking approximates exact cosine: recall@10 vs brute force
    queries = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, k=10).collect()
    approx = quantized_topk(emb, queries, k=10).collect()
    exact_sets = {}
    approx_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact_sets[q1] & approx_sets[q1]) / 10 for q1 in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.8


def test_quantize_int8_null_semantics(spark):
    """All-zero vector -> all-zero codes; a NULL *element* of a non-zero
    vector propagates as NULL (not silently coerced to code 0)."""
    from ecommerce_etl_pipeline_spark.llmops.similarity import quantize_int8

    df = spark.createDataFrame(
        [
            (1, [0.0, 0.0, 0.0]),
            (2, [1.0, None, -2.0]),
        ],
        "id LONG, v ARRAY<DOUBLE>",
    )
    rows = {
        r["id"]: r["q"]
        for r in df.select("id", quantize_int8(F.col("v")).alias("q")).collect()
    }
    assert rows[1] == [0, 0, 0]
    assert rows[2][0] == 64 and rows[2][1] is None and rows[2][2] == -127

    # degenerate: a zero vector WITH a NULL element — the NULL element
    # stays NULL even in the zero-fill branch
    df2 = spark.createDataFrame([(3, [0.0, None])], "id LONG, v ARRAY<DOUBLE>")
    q3 = df2.select(quantize_int8(F.col("v")).alias("q")).collect()[0]["q"]
    assert q3 == [0, None]


def _folded_signatures(df, tables):
    """vec_id -> per-table buckets through the fold lsh_topk and
    lsh_topk_multi execute (one projection pass, then the bit pack)."""
    from ecommerce_etl_pipeline_spark.llmops.similarity import (
        _pack_signatures,
        _project_all,
    )

    flat = [plane for planes in tables for plane in planes]
    return {
        r["vec_id"]: r["sigs"]
        for r in df.select("vec_id", _project_all("embedding", flat).alias("_proj"))
        .select(
            "vec_id",
            _pack_signatures("_proj", len(tables), len(tables[0])).alias("sigs"),
        )
        .collect()
    }


def _ref_sign_bits(vec, planes):
    """Pure-Python LSH bucket: a sequential ``acc += x * w`` per plane, bit
    i set iff plane i's sum is >= 0."""
    bucket = 0
    for i, plane in enumerate(planes):
        acc = 0.0
        for x, w in zip(vec, plane):
            acc += x * w
        if acc >= 0:
            bucket |= 1 << i
    return bucket


def test_lsh_dim_mismatch_raises(spark):
    """A vector narrower than the plane dim must raise, not collapse every
    vector into bucket 0 (which would silently turn the index quadratic)."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from ecommerce_etl_pipeline_spark.llmops.similarity import _hyperplanes

    df = spark.createDataFrame([(1, [1.0] * 8)], "vec_id LONG, embedding ARRAY<DOUBLE>")
    with pytest.raises((PySparkException, Py4JJavaError)):
        _folded_signatures(df, [_hyperplanes(16, 4)])
    # matching width still works (and is deterministic)
    ok = _folded_signatures(df, [_hyperplanes(8, 4)])
    assert len(ok) == 1 and ok[1] is not None
    assert ok == _folded_signatures(df, [_hyperplanes(8, 4)])

    # a NULL vector is NOT a width mismatch: NULL signature, no crash
    dfn = spark.createDataFrame(
        [(1, [1.0] * 8), (2, None)], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    sigs = _folded_signatures(dfn, [_hyperplanes(8, 4)])
    assert sigs[1] == ok[1] and sigs[2] is None


def test_folded_signatures_bit_identical_to_literal_path(spark):
    """The single-fold multi-table signature path (one aggregate pass with
    a wide accumulator, then bit-pack from the materialized projections)
    must produce bit-identical buckets to a pure-Python per-plane
    sequential fold — the per-table form the oracle SQL replays."""
    import random as _random

    from ecommerce_etl_pipeline_spark.llmops.similarity import _hyperplanes

    rng = _random.Random(7)
    rows = [(i, [rng.gauss(0.0, 1.0) for _ in range(16)]) for i in range(40)]
    rows.append((40, None))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")

    tables = [_hyperplanes(16, 5, 42 + t) for t in range(3)]
    folded = _folded_signatures(df, tables)
    for i, vec in rows[:40]:
        want = [_ref_sign_bits(vec, planes) for planes in tables]
        assert folded[i] == want, f"vec {i}: {folded[i]} != {want}"
    assert folded[40] is None  # NULL vector: NULL buckets


def test_compression_ratio_null_text(spark):
    from ecommerce_etl_pipeline_spark.llmops.text import compression_ratio

    docs = spark.createDataFrame(
        [(1, "hello world " * 10), (2, None)], "doc_id LONG, text STRING"
    )
    rows = {r["doc_id"]: r for r in compression_ratio(docs).collect()}
    assert rows[1]["ratio"] is not None
    assert rows[2]["n_bytes"] is None
    assert rows[2]["n_compressed"] is None
    assert rows[2]["ratio"] is None


def test_cosine_null_and_ragged(spark):
    """The one cosine (similarity.cosine, the JVM fold) gives NULL for a
    NULL side and for a width-mismatched pair, whichever side is longer,
    and scores well-formed pairs of any width."""
    from ecommerce_etl_pipeline_spark.llmops.similarity import cosine

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], [1.0, 0.0]),
            (2, None, [1.0, 0.0]),
            (3, [1.0, 0.0], [1.0]),
            (4, [1.0], [1.0, 0.0]),
            (5, [1.0, 2.0, 2.0], [1.0, 2.0, 2.0]),
        ],
        "id LONG, a ARRAY<FLOAT>, b ARRAY<FLOAT>",
    )
    rows = {
        r["id"]: r["c"]
        for r in df.select("id", cosine(F.col("a"), F.col("b")).alias("c")).collect()
    }
    assert rows[1] == pytest.approx(1.0)
    assert rows[2] is None and rows[3] is None and rows[4] is None
    assert rows[5] == pytest.approx(1.0)


def test_segment_hashes_windows(spark):
    from ecommerce_etl_pipeline_spark.llmops.text import segment_hashes

    words40 = " ".join(f"w{i}" for i in range(40))
    short = "too short"
    df = spark.createDataFrame([(1, words40), (2, short)], ["doc_id", "text"])
    rows = {
        r.doc_id: r.segs
        for r in df.select(
            "doc_id", segment_hashes(F.col("text")).alias("segs")
        ).collect()
    }
    assert len(rows[1]) == 2  # 40 tokens -> 2 complete 16-token windows
    assert rows[2] == []  # below one window -> empty, not null


def test_compression_ratio_orders_repetition_vs_noise(spark):
    from ecommerce_etl_pipeline_spark.llmops.text import compression_ratio

    docs = spark.createDataFrame(
        [
            (1, "spam " * 200),                                   # templated
            (2, "the quick brown fox jumps over the lazy dog " * 20),
            (3, "kq8#bZ!w9@Lm2^vX7&cR4*pT6%nJ1$hG5)yD3(fS0codes"),  # noise-ish
        ],
        "doc_id LONG, text STRING",
    )
    r = {x["doc_id"]: x["ratio"] for x in compression_ratio(docs).collect()}
    assert r[1] < r[2] < r[3]  # more repetition => better compression
    # deterministic across runs (fixed deflate level)
    r2 = {x["doc_id"]: x["ratio"] for x in compression_ratio(docs).collect()}
    assert r == r2


def test_minhash_candidate_recall_vs_exact_jaccard(spark, sf_dir):
    """The banded MinHash index must recover (nearly) every true pair the
    exact shingle-Jaccard join finds at threshold 0.5. With 64 hashes in 16
    bands of 4, P(candidate | J=0.5) = 1-(1-0.5^4)^16 ~ 0.645 per pair —
    but true pairs here are near-identical (J >~ 0.8 => P > 0.999), so on
    the fixture corpus recall should be essentially total; assert >= 0.9.
    """
    from pyspark.sql import functions as F

    from ecommerce_etl_pipeline_spark.llmops import dedup

    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r["doc1"], r["doc2"])
        for r in dedup.jaccard_similarity_join(docs, threshold=0.5, hashed=True)
        .select("doc1", "doc2")
        .collect()
    }
    assert exact, "fixture corpus should contain true near-dup pairs"
    cand = {
        (r["doc1"], r["doc2"])
        for r in dedup.minhash_candidate_pairs(docs)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc1", "doc2")
        .collect()
    }
    recall = len(exact & cand) / len(exact)
    assert recall >= 0.9, (recall, len(exact))
    # the verify step computes exact J per candidate, so precision is 1.0
    assert cand <= exact


def test_minhash_aggregate_signature_matches_hof_fold(spark):
    """The explode+groupBy signature (the codegen'd production path since
    round 5) must be bit-identical to the per-row HOF fold
    (minhash_signature) — same (a*h+b) mod P mins over the same hash set;
    min() is duplicate-insensitive so the fold's array_distinct and the
    aggregate's raw postings agree."""
    from pyspark.sql import functions as F

    from ecommerce_etl_pipeline_spark.llmops import dedup

    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f h"), (3, "zz yy xx ww"), (4, "")],
        "doc_id LONG, text STRING",
    )
    hashes_df = docs.select(
        "doc_id", dedup.shingle_hashes(F.col("text"), 3).alias("hashes")
    )
    fold = {
        r["doc_id"]: r["sig"]
        for r in hashes_df.select(
            "doc_id", dedup.minhash_signature(F.col("hashes"), 64, 42).alias("sig")
        ).collect()
    }
    inv = dedup.explode_nonnull(hashes_df, F.col("hashes"), "_h", "doc_id")
    mins = [
        F.min(
            F.pmod(F.col("_h") * F.lit(a) + F.lit(b), F.lit(dedup.MERSENNE_31))
        ).alias(f"_m{i}")
        for i, (a, b) in enumerate(dedup._minhash_coeffs(64, 42))
    ]
    agg = {
        r["doc_id"]: r["sig"]
        for r in inv.groupBy("doc_id")
        .agg(*mins)
        .select("doc_id", F.array(*[f"_m{i}" for i in range(64)]).alias("sig"))
        .collect()
    }
    assert agg == fold


def test_simhash_pairs_are_genuinely_similar(spark, sf_dir):
    """SimHash (here: over unigram token-hash sets) pairs within hamming
    distance 3 of 64 bits must have token-SET Jaccard far above the corpus
    background — hamming distance is a proxy for feature-set similarity,
    and the gate checks the proxy tracks the real quantity."""
    from pyspark.sql import functions as F

    from ecommerce_etl_pipeline_spark.llmops import dedup

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.simhash_near_pairs(docs)
    n_pairs = pairs.count()
    assert n_pairs > 0, "fixture corpus should contain simhash near-dups"

    toks = docs.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("tk")
    )
    jac = (
        F.size(F.array_intersect(F.col("a.tk"), F.col("b.tk")))
        / F.size(F.array_union(F.col("a.tk"), F.col("b.tk")))
    ).alias("j")

    pair_j = (
        pairs.join(toks.alias("a"), F.col("doc1") == F.col("a.doc_id"))
        .join(toks.alias("b"), F.col("doc2") == F.col("b.doc_id"))
        .select(jac)
        .agg(F.avg("j"))
        .first()[0]
    )
    background_j = (
        toks.alias("a")
        .join(toks.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .sample(0.05, seed=7)
        .select(jac)
        .agg(F.avg("j"))
        .first()[0]
    )
    # reported pairs must be dramatically more similar than random pairs
    assert pair_j > background_j + 0.2, (pair_j, background_j)


def test_chunk_structs_edges(spark):
    """Chunking contract: stride = size - overlap, final chunk short,
    sub-size docs give exactly one chunk, consecutive chunks share
    exactly `overlap` tokens when full-length."""
    from ecommerce_etl_pipeline_spark.llmops.text import chunk_structs

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(80))),   # 80 tokens -> 3 chunks
            (2, " ".join(f"t{i}" for i in range(32))),   # exactly size -> 1 chunk
            (3, " ".join(f"t{i}" for i in range(33))),   # one over -> 2 chunks
            (4, "short doc"),                            # sub-size -> 1 chunk
        ],
        ["doc_id", "text"],
    )
    out = {
        (r.doc_id, r.c.chunk_index): (r.c.chunk_text, r.c.n_chunk_tokens)
        for r in docs.select(
            "doc_id", F.explode(chunk_structs(F.col("text"), 32, 8)).alias("c")
        ).collect()
    }
    counts = {d: sum(1 for k in out if k[0] == d) for d in (1, 2, 3, 4)}
    assert counts == {1: 3, 2: 1, 3: 2, 4: 1}
    # doc 1: chunk 0 = tokens 0..31, chunk 1 = 24..55, chunk 2 = 48..79
    t0, n0 = out[(1, 0)]
    t1, n1 = out[(1, 1)]
    t2, n2 = out[(1, 2)]
    assert (n0, n1, n2) == (32, 32, 32)
    assert t0.split(" ")[-8:] == t1.split(" ")[:8]  # exactly `overlap` shared
    assert t1.split(" ")[0] == "t24" and t2.split(" ")[0] == "t48"
    # doc 3: final chunk is short (33 - 24 = 9 tokens)
    assert out[(3, 1)][1] == 9
    assert out[(3, 1)][0].split(" ")[0] == "t24"
    # doc 4: the whole doc in one chunk
    assert out[(4, 0)] == ("short doc", 2)
    with pytest.raises(ValueError):
        chunk_structs(F.col("text"), size=8, overlap=8)


def test_shard_manifest_covers_corpus_without_skew(spark, sf_dir):
    """Shards must partition the corpus exactly (no loss, no dup) and be
    md5-uniform enough that the largest shard is within 2x of the mean."""
    from ecommerce_etl_pipeline_spark.plans.registry import get

    docs = load_table(spark, sf_dir, "documents")
    manifest = get("txt_shard_manifest").fn(spark, sf_dir).collect()
    assert sum(r.n_docs for r in manifest) == docs.count()
    assert len(manifest) == 16
    mean = sum(r.n_docs for r in manifest) / 16
    assert max(r.n_docs for r in manifest) < 2 * mean


def _nearest_seed_reference(vec, seeds):
    """Pure-Python nearest seed: per seed in cid order, the squared
    distance accumulated element by element from 0.0 (DuckDB list_sum's op
    sequence), first argmin; (lowest cid, None) for a NULL or wrong-width
    vector."""
    best = (seeds[0][0], None)
    if vec is None or any(len(vec) != len(cv) for _, cv in seeds):
        return best
    for cid, cv in seeds:
        acc = 0.0
        for x, c in zip(vec, cv):
            d = float(x) - c
            acc += d * d
        if best[1] is None or acc < best[1]:
            best = (cid, acc)
    return best


def test_assign_kernel_bit_exact_vs_python_reference(spark, sf_dir):
    """assign_to_seeds (the nearest-centroid kernel) gives every fixture
    row the pure-Python reference's cluster and bit-identical dist, ties
    to the lowest cid; empty seeds give an empty frame; a NULL or ragged
    vector gets (lowest cid, NULL dist)."""
    import struct

    from ecommerce_etl_pipeline_spark.llmops.clustering import assign_to_seeds

    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.orderBy("vec_id").collect()
    seeds = [(i, [float(x) for x in r.embedding]) for i, r in enumerate(rows[:16])]
    seeds_df = spark.createDataFrame(seeds, "cid INT, cvec ARRAY<DOUBLE>")
    got_frame = assign_to_seeds(emb, seeds_df)
    assert got_frame.schema.simpleString() == (
        "struct<id:bigint,cluster:int,dist:double,vec:array<float>>"
    )
    got = {r.id: (r.cluster, struct.pack(">d", r.dist)) for r in got_frame.collect()}
    want = {}
    for r in rows:
        cid, dist = _nearest_seed_reference(r.embedding, seeds)
        want[r.vec_id] = (cid, struct.pack(">d", dist))
    assert len(got) == len(rows) and got == want

    empty = assign_to_seeds(emb, seeds_df.filter("cid < 0"))
    assert empty.count() == 0
    assert empty.schema.simpleString() == got_frame.schema.simpleString()

    weird = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None), (3, [1.0]), (4, [1.0, 2.0, 3.0])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    wseeds = [(3, [2.0, 2.0]), (7, [0.0, 0.0])]
    got = {
        r.id: (r.cluster, r.dist)
        for r in assign_to_seeds(
            weird, spark.createDataFrame(wseeds, "cid INT, cvec ARRAY<DOUBLE>")
        ).collect()
    }
    assert got == {
        i: _nearest_seed_reference(v, wseeds) for i, v in weird.collect()
    }
    for bad_id in (2, 3, 4):
        assert got[bad_id] == (3, None)  # lowest cid, NULL dist


def test_literal_centroid_assignment_null_and_ragged_rows(spark):
    """The k-means trainers' assignment against a literal centroid matrix
    (centroid index = cid) gives a null or wrong-width row the lowest
    centroid index, with ANSI off and on; a well-formed row ranks
    normally."""
    from ecommerce_etl_pipeline_spark.llmops.clustering import _assign_arrow_udf

    pts = spark.createDataFrame(
        [(1, [9.0, 9.0]), (2, [9.0]), (3, None), (4, [9.0, 9.0, 9.0])],
        "_pid LONG, _pv ARRAY<DOUBLE>",
    )
    centroids = [[0.0, 0.0], [10.0, 10.0], [1.0, 1.0]]
    prev = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for ansi in ("false", "true"):
            spark.conf.set("spark.sql.ansi.enabled", ansi)
            nearest = _assign_arrow_udf(centroids)(F.col("_pv"))["cluster"]
            got = {r._pid: r.c for r in pts.select("_pid", nearest.alias("c")).collect()}
            assert got == {1: 1, 2: 0, 3: 0, 4: 0}, ansi
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_kmeans_portable_trajectory_identical_across_venues(
    spark, sf_dir, distributed_venue
):
    """kmeans_train_portable gives the IDENTICAL centroid matrix (exact
    float equality — integer-nano updates leave no FP slack) on the
    distributed venue (the nearest-centroid kernel per iteration) and on
    the driver venue (the numpy loop). Five iterations at k=16 compound
    any per-row divergence into different argmins, so final equality pins
    the whole trajectory."""
    from ecommerce_etl_pipeline_spark.llmops.clustering import (
        kmeans_train_portable,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    with distributed_venue():
        distributed = kmeans_train_portable(emb, k=16, iterations=5)
    assert distributed == kmeans_train_portable(emb, k=16, iterations=5)


def test_kmeans_portable_empty_and_null_seed_both_venues(spark, distributed_venue):
    """Inputs the Lloyd loops do not model get one answer in both venues:
    an empty frame trains no centroids, and IVF over an empty corpus is an
    empty frame with the usual schema; a NULL seed vector (here at the
    lowest id) raises ValueError naming the id."""
    import contextlib

    schema = "vec_id LONG, embedding ARRAY<DOUBLE>"
    empty = spark.createDataFrame([], schema)
    nulled = spark.createDataFrame(
        [(1, None), (2, [1.0, 0.0]), (3, [0.0, 1.0]), (4, [1.0, 1.0])], schema
    )
    for forced in (contextlib.nullcontext, distributed_venue):
        with forced():
            assert kmeans_train_portable(empty, k=2) == []
            out = ivf_topk_portable(empty, nulled.filter("vec_id > 1"), k=3)
            assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
                ("query_id", "bigint"),
                ("neighbor_id", "bigint"),
                ("cosine", "double"),
                ("rank", "int"),
            ]
            assert out.count() == 0
            with pytest.raises(ValueError, match="vec_id=1 "):
                kmeans_train_portable(nulled, k=2)
            with pytest.raises(ValueError, match="vec_id=1 "):
                ivf_topk_portable(nulled, nulled, n_cells=2)


def test_kmeans_train_monotone_and_deterministic(spark, sf_dir):
    """Lloyd invariants of kmeans_train_portable: total inertia never
    increases with more iterations; the loop is bit-deterministic (no RNG,
    fixed tiebreaks); iteration-1 centroids reproduce ml_kmeans_step's
    cluster sizes (same lowest-id seeds)."""
    from ecommerce_etl_pipeline_spark.llmops.clustering import (
        kmeans_step,
        kmeans_train_portable,
    )
    from ecommerce_etl_pipeline_spark.plans.registry import get

    emb = load_table(spark, sf_dir, "embeddings")

    def inertia(cents):
        seeds = spark.createDataFrame(
            [(i, c) for i, c in enumerate(cents)], "cid INT, cvec ARRAY<DOUBLE>"
        )
        rows = kmeans_step(emb, seeds).collect()
        return sum(r.avg_dist * r.n_members for r in rows)

    prev = None
    for n in (1, 2, 4):
        cents = kmeans_train_portable(emb, k=4, iterations=n)
        cur = inertia(cents)
        if prev is not None:
            assert cur <= prev + 1e-9, (n, cur, prev)
        prev = cur

    c1 = kmeans_train_portable(emb, k=4, iterations=3)
    c2 = kmeans_train_portable(emb, k=4, iterations=3)
    assert c1 == c2

    # one training round from the raw seeds = the oracle-checked step query
    step_sizes = {
        r.cluster: r.n_members for r in get("ml_kmeans_step").fn(spark, sf_dir).collect()
    }
    seeds0 = emb.orderBy("vec_id").limit(4).collect()
    first_cents = [[float(x) for x in r.embedding] for r in seeds0]
    seeds_df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(first_cents)], "cid INT, cvec ARRAY<DOUBLE>"
    )
    sizes = {r.cluster: r.n_members for r in kmeans_step(emb, seeds_df).collect()}
    assert sizes == step_sizes


def test_rp_candidate_recall_vs_exact(spark, sf_dir):
    """Random projection is a CANDIDATE generator — rank fidelity inside
    the sketch space is poor on this noise-like corpus (top-10 cosines
    span only 0.24-0.40), so the operating point is a wide beam + exact
    re-rank. Measured curve at sf0.01 (mean recall of the exact top-10
    inside the projected top-`beam`): 16d/50 -> 0.30, 16d/100 -> 0.54,
    32d/50 -> 0.52, 32d/100 -> 0.86. Gate the production point with
    buffer; re-measure before changing out_dim/beam at scale."""
    from ecommerce_etl_pipeline_spark.llmops.similarity import (
        brute_force_topk,
        rp_topk,
        topk_recall,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, qs, k=10)
    approx = rp_topk(emb, qs, out_dim=32, k=100)
    rec = topk_recall(exact, approx, 10).collect()
    mean = sum(float(r.recall) for r in rec) / len(rec)
    assert mean >= 0.7, f"candidate recall collapsed: {mean:.2f}"


def test_duplicate_span_excision_handcrafted(spark):
    """Span-dedup contract: the globally-first occurrence of a duplicated
    span is canonical (untouched); every later occurrence is excised;
    unique docs and sub-span docs pass through whole."""
    from ecommerce_etl_pipeline_spark.llmops.dedup import duplicate_span_stats

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),
            (2, "x y a b c d e f g h i j z"),  # repeats doc 1's 10-token run
            (3, "unique words only here nothing shared at all ok"),
            (4, "short doc"),  # shorter than the span window
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in duplicate_span_stats(docs, span_tokens=8).collect()}
    assert out[1].n_dup_tokens == 0
    assert out[1].excised_text == "a b c d e f g h i j"
    assert out[2].n_dup_tokens == 10
    assert out[2].excised_text == "x y z"
    assert abs(out[2].dup_fraction - 10 / 13) < 1e-12
    assert out[3].n_dup_tokens == 0 and out[4].n_dup_tokens == 0
    assert out[4].excised_text == "short doc"


def test_semantic_dedup_invariants(spark, sf_dir):
    """SemDeDup contract: exactly one kept representative per duplicate
    component, the representative is the min id, clusters partition the
    corpus, and raising the threshold monotonically keeps more."""
    from ecommerce_etl_pipeline_spark.llmops.dedup import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    total = emb.count()
    out = semantic_dedup(emb, threshold=0.35).collect()
    assert len(out) == total
    assert len({r.vec_id for r in out}) == total
    n_seeds = max(4, -(-total // 125))
    assert {r.cluster for r in out} <= set(range(n_seeds))
    kept35 = sum(r.kept for r in out)
    assert 0 < kept35 < total  # non-trivial boundary at this threshold
    kept40 = sum(r.kept for r in semantic_dedup(emb, threshold=0.4).collect())
    assert kept40 >= kept35


def test_rp_rerank_end_to_end_recall(spark, sf_dir):
    """The two-stage operator's final recall@10 equals its stage-1
    candidate recall (re-rank is exact within the beam), so it must meet
    the same measured floor — and every returned cosine must equal the
    brute-force value for that pair."""
    from ecommerce_etl_pipeline_spark.llmops.similarity import (
        brute_force_topk,
        rp_rerank_topk,
        topk_recall,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, qs, k=10)
    two_stage = rp_rerank_topk(emb, qs, out_dim=32, beam=100, k=10)
    rec = topk_recall(exact, two_stage, 10).collect()
    mean = sum(float(r.recall) for r in rec) / len(rec)
    assert mean >= 0.7, f"two-stage recall collapsed: {mean:.2f}"
    # exactness of stage 2: scores agree with brute force on shared pairs
    ex = {(r.query_id, r.neighbor_id): r.cosine for r in exact.collect()}
    for r in two_stage.collect():
        key = (r.query_id, r.neighbor_id)
        if key in ex:
            assert abs(r.cosine - ex[key]) < 1e-12


def test_kmeans_train_inertia_close_to_mllib(spark, sf_dir):
    """Quality context for kmeans_train_portable: with the same k, its
    within-cluster inertia after 15 rounds must land within 10% of
    pyspark.ml's KMeans (kmeans|| init, the external reference). Lloyd's
    from lowest-id seeds can trail a smarter init slightly — it must not
    collapse to something structurally worse."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from ecommerce_etl_pipeline_spark.llmops.clustering import (
        kmeans_step,
        kmeans_train_portable,
    )

    emb = load_table(spark, sf_dir, "embeddings")

    cents = kmeans_train_portable(emb, k=4, iterations=15)
    seeds = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "cid INT, cvec ARRAY<DOUBLE>"
    )
    ours = sum(
        r.avg_dist * r.n_members for r in kmeans_step(emb, seeds).collect()
    )

    with_vec = emb.withColumn("_v", array_to_vector(F.col("embedding")))
    model = KMeans(k=4, seed=1, featuresCol="_v").fit(with_vec.select("_v"))
    theirs = model.summary.trainingCost

    assert ours <= theirs * 1.10, (ours, theirs)


def test_random_project_width_contract(spark):
    """Per-row width guard (same contract as lsh_signature): a vector
    narrower than the matrix fails loudly instead of silently projecting
    onto a matrix prefix; NULL vectors pass through as NULL."""
    from ecommerce_etl_pipeline_spark.llmops.similarity import (
        _rp_matrix,
        random_project,
    )

    rows = _rp_matrix(64, 16, 42)
    bad = spark.createDataFrame([(1, [0.1] * 32)], "id LONG, v ARRAY<DOUBLE>")
    with pytest.raises(Exception, match="random_project"):
        bad.select(random_project(F.col("v"), rows)).collect()
    nulls = spark.createDataFrame([(1, None)], "id LONG, v ARRAY<DOUBLE>")
    assert nulls.select(random_project(F.col("v"), rows).alias("p")).collect()[0].p is None


def test_weighted_sample_plans_take_ordered(spark, sf_dir):
    """The top-n must plan as TakeOrderedAndProject (per-partition heads
    merged on the driver), never a single-partition row_number window —
    the difference between a bounded merge and a full global sort."""
    from ecommerce_etl_pipeline_spark.plans.registry import get

    plan = (
        get("sm8_weighted_sample")
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_bloom_decontaminate_plants_and_clean(spark):
    from ecommerce_etl_pipeline_spark.llmops.dedup import bloom_decontaminate

    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps"), (101, "completely unrelated words here")],
        "doc_id LONG, text STRING",
    )
    train = spark.createDataFrame(
        [
            # shares the 3-gram "quick brown fox" with eval doc 100
            (1, "a quick brown fox ran away"),
            # clean
            (2, "nothing in common with anything"),
            # short doc == whole-text gram, no overlap
            (3, "tiny doc"),
        ],
        "doc_id LONG, text STRING",
    )
    res = bloom_decontaminate(train, ev)
    got = {r["train_id"]: r["n_hit_ngrams"] for r in res.collect()}
    assert got == {1: 1}

    # fully clean train corpus -> empty result (and the empty-eval path
    # must not divide by zero when sizing the bitmap)
    clean = bloom_decontaminate(
        spark.createDataFrame([(9, "x y z")], "doc_id LONG, text STRING"),
        spark.createDataFrame([], "doc_id LONG, text STRING"),
    )
    assert clean.count() == 0


def test_importance_logweights_tilts_toward_target(spark):
    from ecommerce_etl_pipeline_spark.llmops.splits import importance_logweights

    rows = [(i, "alpha beta gamma", True) for i in range(20)]
    rows += [(100 + i, "delta epsilon zeta", False) for i in range(20)]
    # probe docs: one target-like, one raw-only-like, one NULL text
    rows += [(500, "alpha beta gamma", False), (501, "delta epsilon zeta", True), (502, None, False)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING, is_t BOOLEAN")
    lw = {
        r["doc_id"]: r["nano_logweight"]
        for r in importance_logweights(docs, F.col("is_t"), n_buckets=16).collect()
    }
    # target-distribution doc must outscore the raw-distribution doc
    assert lw[500] > lw[501]
    # NULL text rows are dropped, not crashed on
    assert 502 not in lw
    # identical texts get identical weights
    assert lw[500] == lw[0]


def test_hard_negatives_exclude_same_label_and_self(spark):
    import random as _random

    rng = _random.Random(3)
    rows = [
        (i, [rng.gauss(0.0, 1.0) for _ in range(8)], i % 3) for i in range(30)
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>, label INT")
    out = similarity.hard_negative_topk(
        emb, emb.filter(F.col("vec_id") < 3), k=5, label_col="label"
    ).collect()
    own = {i: i % 3 for i in range(30)}
    assert len(out) == 15  # 3 queries x 5
    for r in out:
        assert r["neighbor_id"] != r["query_id"]
        assert r["neighbor_label"] != own[r["query_id"]]
        assert 1 <= r["rank"] <= 5


def test_fold_kernels_match_counter_reference(spark):
    """max_run_count / singleton_count (the per-row GROUP BY replacements
    behind txt_repetition_battery) vs a collections.Counter reference on
    200 random arrays, including empty, singleton, all-equal, and
    high-duplication shapes — one Spark job for the whole batch."""
    import random as _random
    from collections import Counter

    from ecommerce_etl_pipeline_spark.llmops.text import (
        max_run_count,
        singleton_count,
    )

    rng = _random.Random(11)
    arrays = [[], ["x"], ["x"] * 7]
    for _ in range(197):
        n = rng.randint(0, 30)
        vocab = [f"t{j}" for j in range(rng.randint(1, 6))]
        arrays.append([rng.choice(vocab) for _ in range(n)])
    df = spark.createDataFrame(
        [(i, sorted(a)) for i, a in enumerate(arrays)],
        "id LONG, arr ARRAY<STRING>",
    )
    got = {
        r["id"]: (r["m"], r["u"])
        for r in df.select(
            "id",
            max_run_count(F.col("arr")).alias("m"),
            singleton_count(F.col("arr")).alias("u"),
        ).collect()
    }
    for i, a in enumerate(arrays):
        c = Counter(a)
        want = (
            max(c.values()) if c else 0,
            sum(1 for v in c.values() if v == 1),
        )
        assert got[i] == want, f"array {i}: {got[i]} != {want} ({a})"


def test_cms_never_underestimates_under_forced_collisions(spark):
    """Count-Min Sketch min-over-rows logic under COLLISIONS: 60 distinct
    tokens into an 8-bucket width must collide, so some estimates
    overcount — but none may ever underestimate (the CMS guarantee), and
    estimates must still be exact when a token happens to own a clean
    row. The registered query's 1024-wide table never collides on the
    corpus vocabulary, so this is the only place the interesting branch
    runs."""
    from ecommerce_etl_pipeline_spark.plans.temporal import cms_frequency_estimates

    rows = [(f"tok{i}",) for i in range(60) for _ in range(i % 5 + 1)]
    items = spark.createDataFrame(rows, "t STRING")
    out = cms_frequency_estimates(items, depth=2, width=8, top_n=60).collect()
    assert len(out) == 60
    assert all(r.overcount >= 0 for r in out), "CMS underestimated"
    assert all(r.cms_estimate == r.exact_n + r.overcount for r in out)
    assert any(r.overcount > 0 for r in out), "width 8 must force collisions"


def test_snapshot_diff_null_semantics(spark):
    """snapshot_diff's null-safe compare: NULL->value and value->NULL are
    CHANGED, NULL->NULL is UNCHANGED — a plain equality would call all
    three unchanged-or-dropped. Also the full matrix on one tiny table."""
    from ecommerce_etl_pipeline_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame(
        [(1, None), (2, 10.0), (3, None), (4, 4.0), (5, 5.0)],
        "k LONG, v DOUBLE",
    )
    new = spark.createDataFrame(
        [(1, 1.0), (2, None), (3, None), (4, 4.0), (6, 6.0)],
        "k LONG, v DOUBLE",
    )
    got = {r.k: r.status for r in snapshot_diff(old, new, ["k"], ["v"]).collect()}
    assert got == {
        1: "changed",    # NULL -> value
        2: "changed",    # value -> NULL
        3: "unchanged",  # NULL -> NULL
        4: "unchanged",
        5: "removed",
        6: "added",
    }


def test_last_touch_attribution_edges(spark):
    """w14 semantics on a crafted sequence: purchase-first user -> 'none';
    the credited touch is the LAST prior non-purchase event, skipping an
    intervening purchase."""
    from datetime import datetime

    from ecommerce_etl_pipeline_spark.plans.registry import get

    rows = [
        # user 1: view -> click -> purchase (credit: click),
        #         then purchase again immediately (credit: click, NOT purchase)
        (1, 1, "view", datetime(2024, 1, 1, 10)),
        (2, 1, "click", datetime(2024, 1, 1, 11)),
        (3, 1, "purchase", datetime(2024, 1, 1, 12)),
        (4, 1, "purchase", datetime(2024, 1, 1, 13)),
        # user 2: purchase with no prior events -> 'none'
        (5, 2, "purchase", datetime(2024, 1, 2, 9)),
    ]
    ev = spark.createDataFrame(
        rows, "event_id LONG, user_id LONG, event_type STRING, ts TIMESTAMP"
    )
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    got = {
        r.touch_type: r.n
        for r in ev.withColumn("touch", touch)
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce(F.col("touch"), F.lit("none")).alias("touch_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == {"click": 2, "none": 1}


def test_kmeans_train_portable_exact_python_parity(spark):
    """kmeans_train_portable replays bit-exactly in pure Python: the
    assignment fold is left-to-right (x-c)^2 accumulation and the centroid
    update is integer nano-sums divided in IEEE doubles — no FP-order
    freedom anywhere, which is what makes ml_kmeans_train oracle-checkable."""
    from ecommerce_etl_pipeline_spark.llmops.clustering import kmeans_train_portable

    vecs = [
        (0, [1.0, 2.0, 0.5]),
        (1, [-1.25, 0.75, 3.0]),
        (2, [0.1, -0.2, 0.3]),
        (3, [2.0, 2.1, -0.9]),
        (4, [1.1, 1.9, 0.4]),
        (5, [-1.3, 0.8, 2.9]),
        (6, [0.0, -0.1, 0.25]),
    ]
    df = spark.createDataFrame(vecs, "vec_id LONG, embedding ARRAY<DOUBLE>")
    got = kmeans_train_portable(df, k=2, iterations=3)

    # pure-Python replay with the same arithmetic
    cents = [list(vecs[0][1]), list(vecs[1][1])]
    nano = 10**9
    import math

    for _ in range(3):
        sums = [[0] * 3 for _ in cents]
        counts = [0] * len(cents)
        for _vid, v in vecs:
            best, bd = None, None
            for ci, c in enumerate(cents):
                d = 0.0
                for x, cc in zip(v, c):
                    d = d + (x - cc) ** 2
                if bd is None or d < bd or (d == bd and ci < best):
                    best, bd = ci, d
            counts[best] += 1
            for di, x in enumerate(v):
                sums[best][di] += int(math.floor(x * nano + 0.5))
        for ci in range(len(cents)):
            if counts[ci]:
                # double(sum) FIRST — matches the oracle's CAST AS DOUBLE
                # (r4 ADVICE: int/int true division diverges past 2^53)
                cents[ci] = [(float(s) / counts[ci]) / nano for s in sums[ci]]
    assert got == cents  # exact ==, no tolerance


def test_simhash_null_text_bands_to_zero(spark):
    """NULL-text docs must keep simhash 0 (all votes tie negative) — the
    single-fold rewrite would otherwise propagate NULL and silently drop
    such rows from the chunk equi-join instead of banding them together."""
    from ecommerce_etl_pipeline_spark.llmops import dedup

    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, "some real text here")],
        "doc_id LONG, text STRING",
    )
    pairs = dedup.simhash_near_pairs(docs).collect()
    got = {(r["doc1"], r["doc2"]): r["hamming"] for r in pairs}
    assert got.get((1, 2)) == 0  # both null-text docs band together at 0


def test_simhash_null_text_oracle_parity(spark, tmp_path):
    """r4 ADVICE (medium): the DuckDB oracle used to DROP null-text docs
    (unnest of a NULL token-hash list yields no vote rows) while the Spark
    path coalesces them to simhash 0 — a latent divergence the moment the
    documents table carries a NULL text. The oracle's LEFT-JOIN fix must
    keep both engines identical on such a corpus."""
    import duckdb

    from ecommerce_etl_pipeline_spark.plans import registry
    from tests.oracle import canon_rows

    rows = [
        (1, None),
        (2, None),
        (3, "the quick brown fox jumps over the lazy dog"),
        (4, "the quick brown fox jumps over the lazy dog today"),
        (5, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    path = str(tmp_path / "documents.parquet")
    docs.coalesce(1).write.mode("overwrite").parquet(path)

    spec = registry.get("dd_simhash_pairs")
    got = spec.fn(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}/*.parquet'")
    want = con.sql(spec.oracle).df()
    assert {(r.doc1, r.doc2) for r in got.itertuples()} >= {(1, 2)}
    assert canon_rows(got) == canon_rows(want)


def test_ppjoin_matches_plain_jaccard_join(spark, sf_dir):
    """PPJoin is EXACT: identical (doc1, doc2, jaccard) rows to the plain
    inverted-index join on the fixture corpus, in both hash modes."""
    from ecommerce_etl_pipeline_spark.llmops import dedup

    docs = load_table(spark, sf_dir, "documents")
    for hashed in (False, True):
        plain = {
            (r.doc1, r.doc2, round(r.jaccard, 9))
            for r in dedup.jaccard_similarity_join(
                docs, threshold=0.5, hashed=hashed
            ).collect()
        }
        pp = dedup.ppjoin_pairs(docs, threshold=0.5, hashed=hashed)
        got = {(r.doc1, r.doc2, round(r.jaccard, 9)) for r in pp.collect()}
        assert got == plain, f"hashed={hashed}"
        assert plain, "fixture corpus should contain true jaccard pairs"


def test_ppjoin_exact_on_skewed_boilerplate_corpus(spark):
    """The prefix filter's target shape: hot boilerplate shingles shared by
    every doc plus rare doc-specific content. PPJoin must keep EXACT
    results while its index excludes most hot-shingle postings."""
    from ecommerce_etl_pipeline_spark.llmops import dedup

    boiler = "terms of service apply all rights reserved contact us"
    rows = []
    for i in range(40):
        body = " ".join(f"w{i}x{j}" for j in range(12))
        rows.append((2 * i, f"{boiler} {body}"))
        # even docs get a near-copy (one token changed) -> true pair
        rows.append((2 * i + 1, f"{boiler} {body[:-4]}zzz"))
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    for thr in (0.5, 0.7):
        plain = {
            (r.doc1, r.doc2, round(r.jaccard, 9))
            for r in dedup.jaccard_similarity_join(
                docs, threshold=thr, hashed=False
            ).collect()
        }
        pp = dedup.ppjoin_pairs(docs, threshold=thr, hashed=False)
        got = {(r.doc1, r.doc2, round(r.jaccard, 9)) for r in pp.collect()}
        assert got == plain, f"threshold={thr}"
        assert plain, "skewed corpus should contain true pairs"


def test_jaccard_max_df_lower_bound_accounting(spark):
    """max_df caps the index but keeps full set sizes: returned pairs are a
    SUBSET of the uncapped result with identical jaccard only when the
    pair's support is uncapped; a pair whose shared shingles are all hot
    is missed (never mis-scored above its true jaccard)."""
    from ecommerce_etl_pipeline_spark.llmops import dedup

    hot = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(i, hot) for i in range(10)]               # hot-support clones
    rows += [(100, "uniq one two three four five six"),
             (101, "uniq one two three four five seven")]  # rare support
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    uncapped = {
        (r.doc1, r.doc2): r.jaccard
        for r in dedup.jaccard_similarity_join(docs, hashed=False).collect()
    }
    capped_df = dedup.jaccard_similarity_join(docs, hashed=False, max_df=5)
    capped = {(r.doc1, r.doc2): r.jaccard for r in capped_df.collect()}
    # the rare-support pair survives with its exact score
    assert capped[(100, 101)] == uncapped[(100, 101)]
    # hot-clone pairs (support df = 10 > 5) are missed, not mis-scored
    assert (0, 1) in uncapped and (0, 1) not in capped
    assert set(capped) <= set(uncapped)
    for k, v in capped.items():
        assert v <= uncapped[k] + 1e-12


def test_curate_ppjoin_variant_identical_to_plain_exact(spark, sf_dir):
    """use_ppjoin swaps only the candidate generator of the exact near-dup
    stage; the curated corpus must be row-identical."""
    docs = load_table(spark, sf_dir, "documents")
    plain = curation.curate(docs, use_minhash=False)
    pp = curation.curate(docs, use_minhash=False, use_ppjoin=True)
    a = {(r.doc_id, r.text, r.n_tokens) for r in plain.collect()}
    b = {(r.doc_id, r.text, r.n_tokens) for r in pp.collect()}
    assert a == b and a


def test_curate_rejects_ambiguous_ppjoin_minhash_combo(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    with pytest.raises(ValueError, match="use_minhash=False"):
        curation.curate(docs, use_ppjoin=True)  # use_minhash defaults True


def test_logreg_trainer_matches_pure_python_replay(spark):
    """The distributed trainer must be bit-identical to a pure-Python
    replay (integer-nano gradient sums are order-independent; fast
    sigmoid and feature ratios are IEEE-exact) — the pagerank parity
    discipline applied to gradient descent."""
    import math

    from ecommerce_etl_pipeline_spark.llmops import classifier

    texts = [
        " ".join(f"tok{i}w{j}" for j in range(5 + 7 * i)) for i in range(12)
    ] + [
        "the a and of to in is " * 8,     # stopword-heavy, long
        "x! y? z., ;;; ::: !!!",           # punctuation-heavy
        "el la de que y en los corto",     # es stopwords, short
    ]
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                 "doc_id LONG, text STRING")
    w, _ = classifier.train_linear_scorer(docs, iterations=5)

    # pure-python twin over the same feature definitions
    EN = ["the", "a", "and", "of", "to", "in", "is"]
    ES = ["el", "la", "de", "que", "y", "en", "los"]
    rows = []
    for t in texts:
        toks = t.split(" ")
        n = float(max(len(toks), 1))
        chars = float(max(len(t), 1))
        punct = float(sum(1 for ch in t if not (ch.islower() and ch.isascii()
                                                or ch.isdigit() or ch == " ")))
        x = (1.0, sum(tk in EN for tk in toks) / n,
             sum(tk in ES for tk in toks) / n, punct / chars,
             min(n, 100.0) / 100.0)
        y = 1.0 if (n >= 40 and punct / chars <= 0.2) else 0.0
        rows.append((x, y))
    ref = [0] * 5
    for _ in range(5):
        G = [0] * 5
        for x, y in rows:
            z = 0.0
            for j in range(5):
                z = z + x[j] * (ref[j] / 1e9)
            p = 0.5 + z / (2.0 * (1.0 + abs(z)))
            for j in range(5):
                G[j] += math.floor((p - y) * x[j] * 1e9 + 0.5)
        ref = [ref[j] - classifier.trunc_div(16 * G[j], len(rows))
               for j in range(5)]
    assert w == ref


def test_logreg_trainer_hashed_d64_matches_pure_python_replay(spark):
    """The d=64 production geometry (ml_logreg_train_d64: the 5 quality
    ratios + 59 hashed-unigram buckets) must be bit-identical to a
    pure-Python replay: md5-portable token buckets, integer-count ratio
    features, the same d-agnostic nano-gradient loop. The replay
    recomputes every bucket with hashlib, so a drift in the hash, the
    bucket modulus, or the fold order fails loudly."""
    import hashlib
    import math

    from ecommerce_etl_pipeline_spark.llmops import classifier

    texts = [
        " ".join(f"w{(i * 7 + k) % 41}" for k in range(6 + 5 * i))
        for i in range(10)
    ] + ["", "!!! ??? ;;;", "the a and " * 20,
         "el la de que y en los " * 7]
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                 "doc_id LONG, text STRING")
    w, _ = classifier.train_linear_scorer(
        docs, iterations=3, features="hashed"
    )
    assert len(w) == classifier.HASHED_D

    nb = classifier.HASHED_D - 5
    EN = ["the", "a", "and", "of", "to", "in", "is"]
    ES = ["el", "la", "de", "que", "y", "en", "los"]

    def bucket(tok: str) -> int:
        h = hashlib.md5((classifier.HASHED_SALT + tok).encode()).hexdigest()
        return int(h[:8], 16) % nb

    rows = []
    for t in texts:
        toks = t.split(" ")
        n = float(max(len(toks), 1))
        chars = float(max(len(t), 1))
        punct = float(sum(1 for ch in t if not (ch.islower() and ch.isascii()
                                                or ch.isdigit() or ch == " ")))
        cnt = [0] * nb
        for tk in toks:
            cnt[bucket(tk)] += 1
        x = [1.0, sum(tk in EN for tk in toks) / n,
             sum(tk in ES for tk in toks) / n, punct / chars,
             min(n, 100.0) / 100.0] + [cnt[j] / n for j in range(nb)]
        y = 1.0 if (n >= 40 and punct / chars <= 0.2) else 0.0
        rows.append((x, y))
    d = classifier.HASHED_D
    ref = [0] * d
    for _ in range(3):
        G = [0] * d
        for x, y in rows:
            z = 0.0
            for j in range(d):
                z = z + x[j] * (ref[j] / 1e9)
            p = 0.5 + z / (2.0 * (1.0 + abs(z)))
            for j in range(d):
                G[j] += math.floor((p - y) * x[j] * 1e9 + 0.5)
        ref = [ref[j] - classifier.trunc_div(16 * G[j], len(rows))
               for j in range(d)]
    assert w == ref


def test_logreg_trainer_driver_venue_identical_to_distributed(spark, distributed_venue):
    """r15: the driver GD venue (numpy loop over one bounded toPandas
    probe) must be BIT-identical to the distributed venue at BOTH feature
    widths (wide-agg d=5 and array-venue d=64) — the kmeans/pagerank
    venue-parity discipline applied to the trainer. distributed_venue
    forces the distributed loop on the same corpus."""
    from ecommerce_etl_pipeline_spark.llmops import classifier

    texts = [
        " ".join(f"tok{i}w{j}" for j in range(5 + 7 * i)) for i in range(12)
    ] + [
        "the a and of to in is " * 8,
        "x! y? z., ;;; ::: !!!",
        "el la de que y en los corto",
        "",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
    )
    for features in ("quality", "hashed"):
        w_driver, _ = classifier.train_linear_scorer(
            docs, iterations=5, features=features
        )
        with distributed_venue():
            w_dist, _ = classifier.train_linear_scorer(
                docs, iterations=5, features=features
            )
        assert w_driver == w_dist, f"venue divergence at features={features}"


def test_logreg_driver_venue_needs_int64_safe_row_count(
    spark, monkeypatch, distributed_venue
):
    """The driver GD venue sums gradients in int64, so it is taken only
    while rows × NANO < 2**62; past that bound the trainer must fall back
    to the distributed loop (decimal sums) and give its answer."""
    from ecommerce_etl_pipeline_spark.llmops import classifier
    from ecommerce_etl_pipeline_spark.operators import venue

    limit = 2**62 // classifier.NANO
    assert venue.fits_int64_sum(limit, classifier.NANO)
    assert not venue.fits_int64_sum(limit + 1, classifier.NANO)

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(1 + 3 * i))) for i in range(10)],
        "doc_id LONG, text STRING",
    )
    with distributed_venue():
        w_dist, _ = classifier.train_linear_scorer(docs, iterations=3)

    def driver_loop(*args, **kwargs):
        raise AssertionError("driver venue taken past the int64 bound")

    monkeypatch.setattr(venue, "fits_int64_sum", lambda rows, max_abs_term: False)
    monkeypatch.setattr(classifier, "_driver_gd_loop", driver_loop)
    w_fallback, _ = classifier.train_linear_scorer(docs, iterations=3)
    assert w_fallback == w_dist


def test_kmeans_driver_venue_needs_int64_safe_sums(
    spark, monkeypatch, distributed_venue
):
    """The driver k-means venue sums nano-quantized coordinates in int64;
    when venue.fits_int64_sum refuses, the trainer must skip the driver
    loop and give the distributed centroids."""
    from ecommerce_etl_pipeline_spark.llmops import clustering
    from ecommerce_etl_pipeline_spark.operators import venue

    pts = spark.createDataFrame(
        [(i, [float(i % 5), float(i * 7 % 3) / 2.0]) for i in range(12)],
        "vec_id INT, embedding ARRAY<DOUBLE>",
    )
    with distributed_venue():
        want = clustering.kmeans_train_portable(pts, k=3, iterations=3)

    def driver_loop(*args, **kwargs):
        raise AssertionError("driver venue taken past the int64 bound")

    monkeypatch.setattr(venue, "fits_int64_sum", lambda rows, max_abs_term: False)
    monkeypatch.setattr(clustering, "_driver_kmeans_loop_portable", driver_loop)
    assert clustering.kmeans_train_portable(pts, k=3, iterations=3) == want


def test_hashed_featurize_stages_bucket_array_single_md5_site(spark):
    """The d=64 feature pass must md5 each token ONCE (ADVICE r8 #1):
    Spark's subexpression elimination skips LambdaVariable trees, so an
    inlined bucket array re-hashes per feature column — O(d * tokens)
    md5 per row. featurize stages the array in a lower projection; this
    gate pins that CollapseProject does not re-inline it (an alias
    referenced more than once collapses only when cheap). Regression
    signature: 59 md5 sites in the optimized plan instead of 1."""
    from ecommerce_etl_pipeline_spark.llmops import classifier

    docs = spark.createDataFrame(
        [(0, "the quick brown fox"), (1, None)], "doc_id LONG, text STRING"
    )
    feats = classifier.featurize(docs, features="hashed")
    plan = feats._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("md5") == 1, (
        f"bucket-array md5 must be staged exactly once, found "
        f"{plan.count('md5')} sites — CollapseProject re-inlined the "
        "staging projection"
    )
    # and the physical plan agrees (the optimizer gate could in theory
    # pass while a physical rewrite re-expands)
    assert feats._jdf.queryExecution().executedPlan().toString().count("md5") == 1


def test_hashed_score_expr_matches_pure_python_fold_replay(spark):
    """The apply-side fold form (hashed_score_expr: d=5 head chain +
    integer-nano per-token bucket sum, the curation-gate expression)
    must be BIT-identical to a pure-Python replay with hashlib buckets —
    every double op in both is exactly-rounded IEEE, so == not approx.
    Also pins that score_with_weights(features="hashed") exposes the
    same value (the curate() pin test then closes the triangle)."""
    import hashlib

    from ecommerce_etl_pipeline_spark.llmops import classifier

    d = classifier.HASHED_D
    nb = d - 5
    # arbitrary fixed nano weights, sign-mixed, bucket weights nonzero
    w = [3_000_000, -2_500_000, 1_100_000, -4_000_000, 900_000] + [
        ((-1) ** j) * (1_000_000 + 37_000 * j) for j in range(nb)
    ]
    texts = [
        "the quick brown fox and the lazy dog of the north in a field",
        "el rio la casa de que y en los montes",
        "w1 w2 w3 !!! ??? ;;;",
        "",
        "the a and of to in is " * 30,
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
    )
    got = {
        r["doc_id"]: r["score"]
        for r in classifier.score_with_weights(docs, w, features="hashed").collect()
    }

    EN = ["the", "a", "and", "of", "to", "in", "is"]
    ES = ["el", "la", "de", "que", "y", "en", "los"]
    for i, t in enumerate(texts):
        toks = t.split(" ")
        n = float(max(len(toks), 1))
        chars = float(max(len(t), 1))
        punct = float(sum(1 for ch in t if not (ch.islower() and ch.isascii()
                                                or ch.isdigit() or ch == " ")))
        xs = [1.0, sum(tk in EN for tk in toks) / n,
              sum(tk in ES for tk in toks) / n, punct / chars,
              min(n, 100.0) / 100.0]
        z = w[0] / 1e9 * xs[0]
        for j in range(1, 5):
            z = z + (w[j] / 1e9) * xs[j]
        nanos = 0
        for tk in toks:
            h = hashlib.md5((classifier.HASHED_SALT + tk).encode()).hexdigest()
            nanos += w[5 + int(h[:8], 16) % nb]
        z = z + (float(nanos) / 1e9) / n
        ref = 0.5 + z / (2.0 * (1.0 + abs(z)))
        assert got[i] == ref, f"doc {i}: {got[i]!r} != {ref!r}"


def test_logreg_trainer_empty_and_null_text_corpus(spark):
    """Zero rows: zero weights are the fixpoint (no ZeroDivisionError);
    NULL text folds to '' on both engines (the SimHash NULL-text class)."""
    from ecommerce_etl_pipeline_spark.llmops import classifier

    empty = spark.createDataFrame([], "doc_id LONG, text STRING")
    w, feats = classifier.train_linear_scorer(empty, iterations=3)
    # empty eval set: coalesced 0-count matrix, not NULL sums
    conf0 = classifier.evaluate_scorer(feats, w).collect()[0]
    assert tuple(conf0) == (0, 0, 0, 0)
    assert w == [0] * 5

    nulled = spark.createDataFrame(
        [(1, None), (2, "the a and of to in is " * 10)],
        "doc_id LONG, text STRING",
    )
    w2, feats2 = classifier.train_linear_scorer(nulled, iterations=3)
    conf = classifier.evaluate_scorer(feats2, w2).collect()[0]
    assert conf["tp"] + conf["fp"] + conf["fn"] + conf["tn"] == 2


def test_logreg_oracle_empty_corpus_matches_spark_fixpoint():
    """ADVICE r6 #2: the oracle's weight update divides by the corpus
    count — on an EMPTY documents table the coalesce(G,0) //
    greatest(n,1) guard must reproduce the Spark trainer's short-circuit
    (zero weights), not a division-by-zero."""
    import duckdb

    from ecommerce_etl_pipeline_spark.plans.llmops_queries import (
        _CLS_D,
        _CLS_WFINAL,
        _CLS_WITH,
    )

    from ecommerce_etl_pipeline_spark.plans.registry import _REGISTRY

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    rows = con.execute(
        _CLS_WITH + "\n" + "\nUNION ALL ".join(
            f"SELECT {j} AS feature, w{j} AS weight_nano FROM {_CLS_WFINAL}"
            for j in range(_CLS_D)
        )
    ).fetchall()
    assert sorted(rows) == [(j, 0) for j in range(_CLS_D)]
    # the holdout oracle on the same empty table: 0-count confusion
    # matrix (coalesced sums) and NULL accuracy — matching the Spark
    # side's coalesce + when-guard
    hold = con.execute(_REGISTRY["ml_logreg_holdout"].oracle).fetchone()
    assert tuple(hold) == (0, 0, 0, 0, 0, 0, None)


def test_score_with_weights_drops_reserved_input_columns(spark):
    """ADVICE r6 #5: an input frame already carrying score/predicted/y
    must not yield duplicate output columns — reserved names win."""
    from ecommerce_etl_pipeline_spark.llmops import classifier

    docs = spark.createDataFrame(
        [(1, "the a and of to in is " * 10, 99.0)],
        "doc_id LONG, text STRING, score DOUBLE",
    )
    out = classifier.score_with_weights(docs, [0, 0, 0, 0, 0])
    assert out.columns.count("score") == 1
    row = out.collect()[0]
    assert row["score"] == 0.5  # zero weights => sigmoid(0), not the input 99.0
    assert row["y"] == 1


def test_logreg_holdout_split_is_deterministic_partition(spark, sf_dir):
    """The 80/20 md5 split behind ml_logreg_holdout: disjoint, exhaustive,
    and a pure function of doc_id (re-evaluation yields identical
    membership)."""
    from ecommerce_etl_pipeline_spark.llmops import splits
    from ecommerce_etl_pipeline_spark.plans.llmops_queries import (
        _CLS_SPLIT_SALT,
        _CLS_SPLIT_THRESHOLD,
    )

    docs = load_table(spark, sf_dir, "documents")
    h = splits.hash_uint32(F.col("doc_id"), _CLS_SPLIT_SALT)
    train = {r[0] for r in docs.filter(h < _CLS_SPLIT_THRESHOLD).select("doc_id").collect()}
    hold = {r[0] for r in docs.filter(~(h < _CLS_SPLIT_THRESHOLD)).select("doc_id").collect()}
    every = {r[0] for r in docs.select("doc_id").collect()}
    assert train | hold == every
    assert not (train & hold)
    train2 = {r[0] for r in docs.filter(h < _CLS_SPLIT_THRESHOLD).select("doc_id").collect()}
    assert train2 == train
    # 80/20 within sampling tolerance on the sf fixture
    assert 0.6 < len(train) / max(len(every), 1) < 0.95


def test_perplexity_prune_matches_pure_python_replay(spark, sf_dir):
    """txt_perplexity_prune replayed end-to-end from the logprob frame it
    builds on: identical tercile edges, identical kept set, identical
    buckets — and the pruned third is exactly the complement under the
    right-closed edge rule. Expected edges come from
    binning.quantile_edges on the SAME frame (ADVICE r9 #4: a hand-rolled
    interpolation formula here would pin formula identity, not engine
    parity — a differently-associated percentile expression in Spark
    could round to a different 4dp edge and flake the test even though
    both engines agree with each other)."""
    import math

    from ecommerce_etl_pipeline_spark.functions import binning
    from ecommerce_etl_pipeline_spark.plans.llmops_queries import (
        _unigram_logprob_frame,
        txt_perplexity_prune,
    )

    lp = _unigram_logprob_frame(spark, sf_dir)
    lp_rows = lp.collect()
    raw_e1, raw_e2 = binning.quantile_edges(lp, "avg_logprob", [1 / 3, 2 / 3])
    # knife-edge sentinel (ADVICE r9 #3): the pruning WHERE clause gates
    # on the 4dp-rounded edge, so an edge within ~1 ulp of a half-up
    # rounding boundary could round differently across engines — fail
    # LOUDLY on such a fixture draw instead of as a mystery row-set diff
    for raw in (raw_e1, raw_e2):
        y = raw * 1e4 + 0.5
        assert abs(y - round(y)) > 2 * math.ulp(y), (
            f"tercile edge {raw!r} sits within 1 ulp of a 0.5e-4 rounding "
            "boundary on this fixture — knife-edge draw; the engine-parity "
            "assumption behind the 4dp edge gate is not safe here"
        )
    e1, e2 = binning.round_edges([raw_e1, raw_e2])
    expect = {
        r["doc_id"]: ("middle" if r["avg_logprob"] <= e2 else "head")
        for r in lp_rows
        if r["avg_logprob"] > e1
    }

    out = txt_perplexity_prune(spark, sf_dir)
    got = {r["doc_id"]: r["ppl_bucket"] for r in out.collect()}
    assert got == expect
    # the prune really removes the low-likelihood tail: every kept score
    # strictly clears the rounded first-tercile edge, none survive below
    kept_ids = set(got)
    assert all(
        (r["doc_id"] in kept_ids) == (r["avg_logprob"] > e1) for r in lp_rows
    )
    # terciles split a continuous-ish corpus roughly in thirds (ties on
    # duplicate texts allowed to skew it, hence the loose band)
    assert 0.45 <= len(kept_ids) / max(len(lp_rows), 1) <= 0.85


def test_logreg_calibration_structure(spark, sf_dir):
    """ml_logreg_calibration invariants: decile ids stay in 0..9, bin
    sizes partition the corpus exactly, and each bin's (nano-exact,
    6dp-rounded) mean predicted score lies inside its own decile."""
    from ecommerce_etl_pipeline_spark.plans.llmops_queries import (
        ml_logreg_calibration,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = ml_logreg_calibration(spark, str(sf_dir))
    rows = out.collect()
    assert sum(r["n"] for r in rows) == docs.count()
    for r in rows:
        assert 0 <= r["bin"] <= 9
        assert 0.0 <= r["frac_pos"] <= 1.0
        assert r["bin"] / 10 - 1e-6 <= r["mean_score"] < (r["bin"] + 1) / 10 + 1e-6


def _ref_cosine(a, b):
    """Sequential left-to-right double fold, as the JVM cosine sums."""
    num = na = nb = 0.0
    for x, y in zip(a, b):
        num += float(x) * float(y)
    for x in a:
        na += float(x) * float(x)
    for y in b:
        nb += float(y) * float(y)
    return num / (math.sqrt(na) * math.sqrt(nb))


def test_mmr_bounded_state_matches_unrolled_venue(spark, sf_dir):
    """mmr_diversify_rows (collect-once + driver greedy, the registered
    venue) equals a pure-Python MMR over the collected embeddings: pool =
    the pool_n highest cosines to the query (ties to the lower id), then
    K greedy steps of argmax lam*rel - (1-lam)*max-sim-to-selected (ties
    to the lower id). Same picks in the same order, and the raw double
    rel/mmr scores identical to the last ulp."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    bounded = similarity.mmr_diversify_rows(emb, q, k=5, pool_n=20, lam=0.5)

    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    rel = {i: _ref_cosine(vecs[0], v) for i, v in vecs.items() if i != 0}
    pool = sorted(rel, key=lambda i: (-rel[i], i))[:20]
    want, selected = [], []
    for step in range(1, 6):
        best = None
        for i in sorted(set(pool) - set(selected)):
            ms = max((_ref_cosine(vecs[i], vecs[j]) for j in selected), default=0.0)
            mmr = 0.5 * rel[i] - 0.5 * ms
            if best is None or mmr > best[3]:
                best = (step, i, rel[i], mmr)
        want.append(best)
        selected.append(best[1])

    assert len(bounded) == 5
    assert bounded == want
    # greedy invariants: step 1 is the pure-relevance argmax; picks are
    # distinct; the diversity term is a max over cosines in [-1, 1], so
    # mmr deviates from lam*rel by at most (1-lam)
    assert bounded[0][3] == 0.5 * bounded[0][2]
    assert len({b[1] for b in bounded}) == 5
    for _, _, rel_, mmr in bounded:
        assert abs(mmr - 0.5 * rel_) <= 0.5 + 1e-12


def test_cluster_safe_split_leakage_invariant_and_singleton_parity(spark):
    """dd_cluster_safe_split's two contracts: (1) LEAKAGE — every
    near-dup candidate pair at the clustering threshold lands in ONE
    split (the property dd_hash_split cannot give); (2) SINGLETON
    PARITY — documents with no near-duplicate receive exactly
    dd_hash_split's assignment (same salt, own id), so adopting the
    cluster-safe split migrates only clustered documents."""
    from pyspark.sql import functions as F

    from ecommerce_etl_pipeline_spark.plans.registry import get
    from ecommerce_etl_pipeline_spark.llmops import dedup
    from ecommerce_etl_pipeline_spark.sources.io import load_table

    sf = "/root/testdata/sf0.001"
    out = get("dd_cluster_safe_split").fn(spark, sf)
    rows = out.collect()
    split_of = {r["doc_id"]: r["split"] for r in rows}
    cluster_of = {r["doc_id"]: r["cluster_id"] for r in rows}
    assert len(rows) == load_table(spark, sf, "documents").count()

    docs = load_table(spark, sf, "documents")
    pairs = (
        dedup.minhash_candidate_pairs(docs, portable=True)
        .filter(F.col("jaccard") >= 0.5)
        .collect()
    )
    assert pairs, "fixture has no near-dup pairs — invariant untested"
    for p in pairs:
        a, b = p["doc1"], p["doc2"]
        assert split_of[a] == split_of[b], (a, b)
        assert cluster_of[a] == cluster_of[b], (a, b)

    clustered = {d for p in pairs for d in (p["doc1"], p["doc2"])}
    base = {
        r["doc_id"]: r["split"]
        for r in get("dd_hash_split").fn(spark, sf).collect()
    }
    singles = [d for d in split_of if d not in clustered]
    assert singles
    for d in singles:
        assert cluster_of[d] == d
        assert split_of[d] == base[d], d

#!/usr/bin/env python
"""Standing Zipf decade gate for the PPJoin prefix filter (VERDICT r6
"Next round" #3): on the committed deterministic Zipf fixtures
(localdata/zipf0.1 -> zipf1, one decade of corpus growth) assert that

1. the DISTINCT candidate-pair count out of the prefix+length+positional
   filters matches its pinned value EXACTLY on each decade — the fixtures
   and the hashed shingle pipeline are deterministic, so any drift means
   the filters changed (a loosened filter shows as superlinear candidate
   growth long before it shows as wall-clock; a tightened one risks
   dropped pairs, which assertion 3 catches);
2. the decade growth ratio of that count stays ~linear (<= MAX_RATIO) —
   the operator's core scale claim (SCALING.md round-6: prefix index
   10.0x/10.2x per decade where the plain inverted index grows 55-68x);
3. the verified output pair counts match the plain-index ground truth
   pinned from the round-6 equality measurement (440 / 4362);
4. (round 8, VERDICT r7 #5) the END-TO-END ``curate(use_ppjoin=True)``
   pipeline — fused lang/length gate, exact dedup, PPJoin candidates,
   connected components, anti-join — keeps/removes EXACTLY the pinned
   document counts on both decades (lang="unknown": the Zipf vocabulary
   is synthetic, so no stopword language wins). Removed docs grow
   396 -> 3893 = 9.83x/decade, i.e. the full pipeline tracks the 8%
   near-dup injection rate LINEARLY on the df-skewed shape — this is the
   number that answers the sf1 uniform-corpus 16.8x figure, which is the
   deliberately worst (nothing-is-rare) shape.
5. (round 10, VERDICT r9 "What's missing" #3) the 100 TB PRODUCTION
   COMPOSITION — TRAINED classifier gate + PPJoin prefix-filter
   candidates, ``curate(classifier_weights=w, use_ppjoin=True,
   use_minhash=False)`` — keeps EXACTLY the pinned counts on both
   decades, with the d=64 hashed scorer trained ONCE on zipf0.1's
   deterministic md5 80% split and applied to both (the production
   shape: train offline on a frozen sample, gate every decade of
   corpus with the same weights). On the SMALL decade the composition
   is also pinned EQUAL to the exact-jaccard venue (use_ppjoin=False,
   same weights) — ppjoin_pairs is exact by construction, so any
   divergence is a filter bug, not an approximation.

Expected values were measured on the committed fixtures (seed 20260815)
in rounds 7-8 and cross-checked against SCALING.md round-6's pair column.
A legitimate change to threshold/shingle_k/ordering must update them in
the same commit — that is the point.

Usage: python scripts/check_zipf.py        (~80s on 4 cores, local[*])
Exit 1 on any assertion failure.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ecommerce_etl_pipeline_spark import session  # noqa: E402
from ecommerce_etl_pipeline_spark.llmops import dedup  # noqa: E402
from ecommerce_etl_pipeline_spark.operators import caches  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: fixture -> (distinct candidate pairs, verified output pairs)
EXPECTED = {
    "zipf0.1": (454, 440),
    "zipf1": (4592, 4362),
}
#: fixture -> (total docs, docs kept by curate(use_ppjoin=True)) — the
#: end-to-end pipeline pin (assertion 4); removed = total - kept tracks
#: the generator's 8% near-dup rate linearly across the decade
EXPECTED_CURATE = {
    "zipf0.1": (5000, 4604),
    "zipf1": (50000, 46107),
}
#: fixture -> docs kept by the CLASSIFIER-GATED ppjoin composition
#: (assertion 5): curate(classifier_weights=w, use_ppjoin=True) with w
#: trained once on zipf0.1's md5 80% split (12 GD rounds, d=64 hashed
#: features — deterministic integer-nano training, so w is a constant
#: of the committed fixture). Measured round 10 on the committed
#: fixtures; a legitimate change to the trainer/gate/threshold must
#: update these in the same commit. The counts EQUAL assertion 4's
#: heuristic-gate pins because the Zipf corpus's heuristic labels are
#: uniformly positive (near-zero punctuation, long docs), so the
#: trained scorer converges to predict-positive everywhere and every
#: removal is the dedup stages' — the pin therefore exercises the
#: train + gate + prefix-filter + components COMPOSITION and its exact
#: equality with the plain-index venue (the separate diff-0 check),
#: not gate selectivity (which sf0.01's documents fixture covers:
#: dd_curation_classifier keeps 312 of dd_curation_pipeline's 431).
EXPECTED_CURATE_CLS = {
    "zipf0.1": 4604,
    "zipf1": 46107,
}
#: one decade of corpus growth may grow candidates at most this much
#: (measured 10.11x; linear would be 10x, the plain index does 55x)
MAX_RATIO = 12.0


def main() -> int:
    spark = session.get_spark(app_name="check_zipf")
    spark.sparkContext.setLogLevel("ERROR")
    measured: dict[str, tuple[int, int]] = {}
    fails: list[str] = []
    for name, (exp_cand, exp_pairs) in EXPECTED.items():
        path = os.path.join(ROOT, "localdata", name, "documents.parquet")
        if not os.path.exists(path):
            fails.append(f"{name}: fixture missing at {path} — run scripts/make_zipf.py")
            continue
        docs = spark.read.parquet(path)
        with caches.scope():
            cand, ordered = dedup.ppjoin_candidates(docs, threshold=0.5, hashed=True)
            # persist cand: BOTH the count and the verify consume it, and
            # the candidate stage (prefix self-join + distinct) is the
            # gate's heaviest lineage; unpersisted it would execute twice
            cand = caches.persist(cand)
            n_cand = cand.count()
            n_pairs = dedup.ppjoin_verify(cand, ordered, threshold=0.5).count()
        measured[name] = (n_cand, n_pairs)
        if n_cand != exp_cand:
            fails.append(f"{name}: candidates {n_cand} != pinned {exp_cand}")
        if n_pairs != exp_pairs:
            fails.append(f"{name}: pairs {n_pairs} != pinned {exp_pairs}")
        print(f"{name}: candidates={n_cand} (pinned {exp_cand}) "
              f"pairs={n_pairs} (pinned {exp_pairs})", flush=True)
    # assertion 4: the end-to-end PPJoin curation pipeline on the same
    # fixtures — exact kept/removed pins at both decades
    from ecommerce_etl_pipeline_spark.llmops import curation

    curate_measured: dict[str, tuple[int, int]] = {}
    for name, (exp_total, exp_kept) in EXPECTED_CURATE.items():
        path = os.path.join(ROOT, "localdata", name, "documents.parquet")
        if not os.path.exists(path):
            continue  # missing-fixture failure already recorded above
        docs = spark.read.parquet(path)
        total = docs.count()
        with caches.scope():
            kept = curation.curate(
                docs, lang="unknown", use_minhash=False, use_ppjoin=True
            ).count()
        curate_measured[name] = (total, kept)
        if (total, kept) != (exp_total, exp_kept):
            fails.append(
                f"{name}: curate-ppjoin (total, kept) = ({total}, {kept}) "
                f"!= pinned ({exp_total}, {exp_kept})"
            )
        print(f"{name}: curate-ppjoin total={total} kept={kept} "
              f"removed={total - kept} (pinned kept {exp_kept})", flush=True)
    measured["curate"] = curate_measured  # type: ignore[assignment]

    # assertion 5: the 100 TB production composition — trained d=64 gate
    # + PPJoin candidates — pinned at both decades, weights trained ONCE
    # on zipf0.1's deterministic 80% split; plus small-decade equality
    # with the exact-jaccard venue (ppjoin is exact by construction)
    from pyspark.sql import functions as F  # noqa: N812

    from ecommerce_etl_pipeline_spark.llmops import classifier, splits

    cls_measured: dict[str, int] = {}
    small = os.path.join(ROOT, "localdata", "zipf0.1", "documents.parquet")
    if os.path.exists(small):
        docs01 = spark.read.parquet(small)
        h = splits.hash_uint32(F.col("doc_id"), "zipf-cls:v1")
        train = docs01.filter(h < F.lit(int(0.8 * splits.HASH_SPACE)))
        # trainer hyperparameters mirror the registered composition
        # (dd_curation_classifier_ppjoin: 12 rounds, lr 16/1, d=64)
        # the scope releases the trainer's feature frame and lineage cuts;
        # the weights are plain Python values
        with caches.scope():
            w, _ = classifier.train_linear_scorer(
                train, iterations=12, lr_num=16, lr_den=1, features="hashed"
            )
        for name, exp_kept in EXPECTED_CURATE_CLS.items():
            path = os.path.join(ROOT, "localdata", name, "documents.parquet")
            if not os.path.exists(path):
                continue
            docs = spark.read.parquet(path)
            with caches.scope():
                kept = curation.curate(
                    docs, lang="unknown", use_minhash=False, use_ppjoin=True,
                    classifier_weights=w,
                ).count()
            cls_measured[name] = kept
            if exp_kept is not None and kept != exp_kept:
                fails.append(
                    f"{name}: classifier+ppjoin curate kept {kept} "
                    f"!= pinned {exp_kept}"
                )
            print(f"{name}: curate-classifier-ppjoin kept={kept} "
                  f"(pinned {exp_kept})", flush=True)
        # small-decade equality: composed ppjoin venue == exact-jaccard
        # venue under the SAME trained gate (identical by construction)
        with caches.scope():
            pp_ids = curation.curate(
                docs01, lang="unknown", use_minhash=False, use_ppjoin=True,
                classifier_weights=w,
            ).select("doc_id")
            ex_ids = curation.curate(
                docs01, lang="unknown", use_minhash=False, use_ppjoin=False,
                classifier_weights=w,
            ).select("doc_id")
            diff = pp_ids.exceptAll(ex_ids).count() + ex_ids.exceptAll(pp_ids).count()
        if diff != 0:
            fails.append(
                f"zipf0.1: classifier-gated ppjoin vs exact-jaccard kept "
                f"sets differ by {diff} docs (must be identical — ppjoin "
                "is an exact candidate generator)"
            )
        print(f"zipf0.1: classifier-gated ppjoin == exact-jaccard venue "
              f"(symmetric diff {diff})", flush=True)
    measured["curate_classifier"] = cls_measured  # type: ignore[assignment]
    if "zipf0.1" in measured and "zipf1" in measured:
        ratio = measured["zipf1"][0] / max(measured["zipf0.1"][0], 1)
        print(f"decade candidate growth: {ratio:.2f}x (max {MAX_RATIO}x)")
        if ratio > MAX_RATIO:
            fails.append(f"candidate growth {ratio:.2f}x > {MAX_RATIO}x — "
                         "prefix/positional filter regression")
    print(json.dumps({"measured": measured, "fails": fails}))
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())

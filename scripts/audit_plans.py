#!/usr/bin/env python
"""Forced-broadcast audit over every registered query plan.

Doctrine (SCALING.md "Join strategy on scaling sides"): joins whose sides
scale with the data are left UNHINTED — Catalyst's scan-proportional size
estimates plus AQE's measured-size re-planning flip them from broadcast to
shuffle exactly when the data outgrows the threshold. A stats-driven
broadcast is therefore scale-honest by construction; the only scale bug in
this class is a broadcast the statistics did NOT choose — an explicit
F.broadcast()/hint on a side that grows with the corpus, which would
survive any data size.

The audit isolates exactly those: it re-plans every registered query with
``spark.sql.autoBroadcastJoinThreshold=-1`` (disables every stats-driven
broadcast; only forced ones remain) and flags any surviving *Broadcast*Join
whose BUILD subtree contains a scan of a fact/corpus-scaled table with no
reducing operator (aggregate/limit) between scan and join. Each flag is
either a scale bug (remove the forced broadcast) or a provably bounded
side to be added to the EXPECTED list below with its justification.

tests/test_plans.py::test_no_forced_broadcast_of_scaling_sides pins the
known-critical plans; this audit is the per-round discovery pass that
finds NEW ones.

Usage: python scripts/audit_plans.py [sf_dir]
Exit 1 if an unexpected flag appears.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ecommerce_etl_pipeline_spark.session import get_spark  # noqa: E402

BIG = ("lineitem", "orders", "events", "documents", "embeddings")
REDUCERS = (
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    "CollectLimit",
    "TakeOrderedAndProject",
    "GlobalLimit",
    "LocalLimit",
)

#: query -> reason its remaining FORCED broadcast(s) are bounded.
#: Reviewed round 3 under threshold=-1: every entry is an explicit
#: F.broadcast() of a side that is bounded by construction, not by SF.
EXPECTED = {
    "dd_embedding_neardup": "oracle-bounded id range (vec_id < 200)",
    "dd_bloom_decontam": (
        "cached distinct eval n-gram set — benchmark-sized by design (the "
        "cache boundary hides its distinct-aggregate reducer from the "
        "scan-subtree heuristic)"
    ),
    "dd_eval_decontam": "eval split postings — benchmark-sized by design",
    "dd_incremental_dedup": "daily batch side — small by design",
    "j11_bloom_pruned_join": "selective bloom build side (documented dynamic filter)",
    "sim_cosine_topk": "query vectors (vec_id < 5)",
    "sim_hard_negatives": "query vectors + labels (vec_id < 5)",
    "sim_knn_label_audit": (
        "probe vectors/labels (vec_id < 100) + |q| x k hit list — both "
        "hyperparameter-sized by construction"
    ),
    "sim_ivf_recall": "query vectors + probe-cell assignments (|q| x n_probe)",
    "sim_ivf_topk": "probe-cell assignments (|q| x n_probe)",
    "sim_lsh_recall": "query vectors + top-k outputs (|q| x k)",
    "sim_mmr_diversify": (
        "bounded-state venue: the registered plan is a LocalTableScan "
        "of the K driver-side picks; the pool build (broadcast query x "
        "corpus scan) runs as an eager bounded-collect job inside the "
        "query builder, so no forced broadcast appears in the final plan"
    ),
    "sim_lsh_topk": "query signatures",
    "sim_quantized_topk": "query codes",
    "sim_rp_topk": "projected query vectors (vec_id < 5)",
    "sim_rp_rerank": "beam candidate list (|q| x beam rows) + query vectors",
    "sim_pq_rerank": (
        "the rp_rerank shape with PQ stage 1: beam candidate list "
        "(|q| x beam rows via row_number limit — the Window+Filter "
        "reducer pair the scan-subtree heuristic doesn't list) + query "
        "vectors (vec_id < 5)"
    ),
    "sim_ivfpq_rerank": (
        "same bounded sides as sim_pq_rerank (beam candidate list + "
        "query vectors)"
    ),
}


def children(node):
    seq = node.children()
    return [seq.apply(i) for i in range(seq.length())]


def walk(node):
    yield node
    for c in children(node):
        yield from walk(c)


def big_unreduced_scans(node, reduced=False):
    name = node.getClass().getSimpleName()
    if name == "FileSourceScanExec" and not reduced:
        desc = node.toString().split("\n")[0]
        t = next((t for t in BIG if f"{t}.parquet" in desc), None)
        if t:
            yield t
    # a CACHED frame under an unreduced broadcast build side is just as
    # dangerous as a raw fact scan (cached corpus frames — banded rows,
    # shingle tables — are a common corpus-scaled shape) and its origin
    # table is invisible behind the InMemoryRelation, so flag it
    # unconditionally and let the EXPECTED list adjudicate
    if name.startswith("InMemoryTableScan") and not reduced:
        yield "cached-frame"
    r2 = reduced or any(name.startswith(x) for x in REDUCERS)
    for c in children(node):
        yield from big_unreduced_scans(c, r2)


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="audit-plans")
    spark.sparkContext.setLogLevel("ERROR")
    # kill every stats-driven broadcast so only explicitly forced ones
    # remain in the static plan — those are what the audit is hunting
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import ecommerce_etl_pipeline_spark.plans  # noqa: F401
    from ecommerce_etl_pipeline_spark.plans.registry import _REGISTRY

    unexpected = []
    for qname, spec in sorted(_REGISTRY.items()):
        try:
            plan = spec.fn(spark, sf)._jdf.queryExecution().sparkPlan()
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {qname}: {str(e)[:100]}")
            unexpected.append(qname)
            continue
        flags = []
        for node in walk(plan):
            nm = node.getClass().getSimpleName()
            if "BroadcastHashJoin" in nm or "BroadcastNestedLoopJoin" in nm:
                side = str(node.buildSide())
                kids = children(node)
                build = kids[0] if "BuildLeft" in side else kids[1]
                flags.extend(big_unreduced_scans(build))
        if flags:
            status = "ok  " if qname in EXPECTED else "FLAG"
            why = EXPECTED.get(qname, "NOT IN EXPECTED LIST — scale bug or new bounded side")
            print(f"{status} {qname}: forced broadcasts {sorted(set(flags))} — {why}")
            if qname not in EXPECTED:
                unexpected.append(qname)
    print(f"\n{len(unexpected)} unexpected; expected-list size {len(EXPECTED)}")
    return 1 if unexpected else 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Physical-plan antipattern audit across the query registry.

Builds every registry query's physical plan and greps it for the shapes
that must never regress silently at 100 TB. Plan BUILD is lazy for most
queries, but a minority of registry entries execute real driver-side work
during construction (e.g. ``streaming_cdc_upsert`` runs its CDC sink into a
temp-dir store; skyline / sampled-betweenness / center-normalize collect
bounded stats to fold literals into the plan) — so a full-registry audit
does trigger real execution and temp-dir side effects for those entries.
The audited shapes:

* ``CartesianProduct`` — an all-pairs join slipped in;
* ``BroadcastNestedLoopJoin`` — a non-equi join fell off the hash path;
* ``BatchEvalPython`` — a row-at-a-time Python UDF entered the plan
  (Arrow paths show as ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas).

Some queries legitimately carry one of these (documented exact=True oracle
modes, 1-row broadcast totals); they are listed in ALLOW with the reason.
Output: one JSON line {"checked": N, "violations": [...]} — empty
violations is the pass condition. Used by tests/test_plan_audit.py for a
pinned subset; run standalone for the full registry:

    python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: Queries that legitimately carry a BroadcastNestedLoopJoin, with the
#: reason. Exactly the strict-audit hit list (run with --strict to
#: regenerate) — nothing is pre-allowed "just in case".
_ONE_ROW_TOTAL = {
    # a 1-row/bounded broadcast aggregate (corpus totals, thresholds,
    # critical values, basket counts, sketch rows) cross-joined back in —
    # the documented "broadcast scalar inside the plan" pattern.
    "assoc_frequent_triples", "assoc_rules_event_pairs",
    "chi_square_independence", "doc_unigram_logprob",
    "drift_ks_two_sample", "drift_psi_value",
    "event_transition_stationary", "events_value_histogram",
    "graph_lpa_modularity", "neyman_allocation_plan",
    "temporal_split_leakage",
    # graph_triangle_count left this set in round 14: its small-graph
    # driver finish replaces the 1-row crossJoin with a LocalTableScan at
    # audit scale (the distributed form under small_cutoff=0 still uses
    # the broadcast-scalar pattern, which the audit never sees).
    "graph_rich_club", "hybrid_retrieval_rrf",
    "quality_perplexity_buckets", "sketch_hll_set_operations",
    "text_bm25_topk", "text_pmi_collocations",
    "tpch_q11_important_parts", "tpch_q22_global_sales_opportunity",
}
_BROADCAST_PROBE = {
    # ANN scoring: the bounded QUERY side broadcasts against the streaming
    # corpus — the documented brute-force/quantized scale shape.
    "ann_bruteforce_topk", "ann_hamming_topk", "ann_pq_adc_topk",
    "ann_hard_negatives",
}
# (round 7: the former _EXACT_ORACLE_MODE allowlist entry for
# embedding_near_duplicates is gone — the exact all-pairs baseline now
# runs as the triangular block decomposition, no join to allow.)
ALLOW: dict[str, set[str]] = {
    name: {"BroadcastNestedLoopJoin"}
    for name in (_ONE_ROW_TOTAL | _BROADCAST_PROBE)
}

PATTERNS = ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython")


def audit(sf_dir: str, names: list[str] | None = None,
          strict: bool = False) -> dict:
    from hierarchical_graph_db_spark.queries import load
    from hierarchical_graph_db_spark.session import get_spark

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load()
    picked = names or sorted(registry)
    violations = []
    checked = 0
    for name in picked:
        try:
            plan = (registry[name].run(spark, sf_dir)
                    ._jdf.queryExecution().executedPlan().toString())
        except Exception as e:  # plan build itself failed
            violations.append({"query": name, "pattern": "PLAN_ERROR",
                               "detail": str(e)[:200]})
            continue
        checked += 1
        for pat in PATTERNS:
            allowed = set() if strict else ALLOW.get(name, set())
            if pat in plan and pat not in allowed:
                violations.append({"query": name, "pattern": pat})
    return {"checked": checked, "violations": violations}


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if a != "--strict"]
    sf = args[0] if args else "/root/testdata/sf0.001"
    print(json.dumps(audit(sf, strict="--strict" in sys.argv)))

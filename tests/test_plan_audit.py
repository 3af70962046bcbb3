"""Registry-wide plan antipattern gate (pinned subset).

tools/plan_audit.py greps every registry query's physical plan for
CartesianProduct / BroadcastNestedLoopJoin / row-at-a-time Python UDFs.
The full-registry audit (every queries() entry) runs standalone (~minutes); this pytest pins a
representative subset across every family so a regression in the common
builders (Catalog, joins, the fuzzy-dedup candidate paths) fails fast."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.plan_audit import audit  # noqa: E402

SUBSET = [
    # relational / joins
    "flagship_hierarchy_rollup", "join_fact_fact", "join_broadcast_star",
    "tpch_q8_market_share", "cdc_apply_changelog", "skyline_price_size",
    # dedup / similarity scale paths
    "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "embedding_near_duplicates_lsh", "ann_ivf_topk", "ann_lsh_topk",
    "fuzzy_jaro_winkler_match", "semantic_dedup_keepers",
    # text / training
    "text_textrank_keywords", "decontaminate_ngram_overlap",
    "pack_sequences_greedy", "assoc_frequent_triples",
    # graph / windows
    "graph_betweenness_sampled", "graph_connected_components",
    "window_topk_salted", "event_transition_stationary",
]


def test_pinned_subset_is_clean(sf_dir):
    result = audit(sf_dir, names=SUBSET)
    assert result["checked"] == len(SUBSET)
    assert result["violations"] == [], result["violations"]


def test_strict_allowlist_equals_hit_set(sf_dir):
    """VERDICT r7 item 4: ALLOW must be *exactly* the strict-audit BNLJ hit
    set over the full registry — a retired pattern (query stops producing a
    BroadcastNestedLoopJoin) makes its stale allowlist entry fail here, and
    a new BNLJ can't slip in unjustified (it fails the default audit).
    Full-registry pass (~2-3 min): every plan is built once."""
    from tools.plan_audit import ALLOW

    result = audit(sf_dir, strict=True)
    assert not [v for v in result["violations"]
                if v["pattern"] == "PLAN_ERROR"], result["violations"]
    bnlj_hits = {v["query"] for v in result["violations"]
                 if v["pattern"] == "BroadcastNestedLoopJoin"}
    assert bnlj_hits == set(ALLOW), (
        f"stale allowlist entries: {sorted(set(ALLOW) - bnlj_hits)}; "
        f"unallowed new BNLJ: {sorted(bnlj_hits - set(ALLOW))}"
    )
    # the other two patterns have no allowlist at all
    other = {v["query"] for v in result["violations"]
             if v["pattern"] in ("CartesianProduct", "BatchEvalPython")}
    assert other == set(), other

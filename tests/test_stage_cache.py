"""Shared fuzzy-CC stage cache: hit behavior and the build-cost
attribution sidecar (VERDICT r11 #5)."""

from __future__ import annotations

from hierarchical_graph_db_spark.queries import dedup as dq

SF = "/root/testdata/sf0.001"


def test_fuzzy_cc_build_is_attributed_and_cached(spark):
    dq._FUZZY_CC_CACHE.clear()
    dq._FUZZY_CC_BUILD_SECS.clear()

    first = dq.fuzzy_cc_labels(spark, SF, threshold=0.5)
    attr = dq.stage_cache_build_secs()
    assert list(attr) == [f"fuzzy_cc_labels[{SF}, t=0.5]"]
    built_secs = attr[f"fuzzy_cc_labels[{SF}, t=0.5]"]
    assert built_secs > 0

    # second call: cache hit — same frame object, attribution unchanged
    second = dq.fuzzy_cc_labels(spark, SF, threshold=0.5)
    assert second is first
    assert dq.stage_cache_build_secs() == attr


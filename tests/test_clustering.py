"""K-means semantics on hand-built separable data + plan-shape guards."""

from __future__ import annotations

from pyspark.sql import functions as F

from hierarchical_graph_db_spark.operators.clustering import kmeans


def _blobs(spark):
    """Three tight, well-separated 4-d blobs of 30 points each. Offsets are
    small deterministic jitter (<0.2) around centers 10 apart, so any
    correct k-means run must recover the blob partition exactly."""
    rows = []
    for b, center in enumerate(((0.0, 0.0, 0.0, 0.0),
                                (10.0, 10.0, 0.0, 0.0),
                                (0.0, 0.0, 10.0, 10.0))):
        for i in range(30):
            jit = ((i * 7 % 19) - 9) / 50.0
            rows.append((b * 30 + i,
                         [c + jit * (j + 1) / 4.0
                          for j, c in enumerate(center)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_kmeans_recovers_separated_blobs(spark):
    out = kmeans(_blobs(spark), k=3, n_rounds=3).collect()
    by_blob = {}
    for r in out:
        by_blob.setdefault(r["vec_id"] // 30, set()).add(r["cluster"])
    # each blob maps to exactly one cluster, and the three clusters differ
    assert all(len(cl) == 1 for cl in by_blob.values())
    assert len(set().union(*by_blob.values())) == 3
    # tight blobs → small final distances
    assert max(r["dist"] for r in out) < 1.0


def test_kmeans_deterministic_rerun(spark):
    a = {(r["vec_id"], r["cluster"], r["dist"])
         for r in kmeans(_blobs(spark), k=3, n_rounds=3).collect()}
    b = {(r["vec_id"], r["cluster"], r["dist"])
         for r in kmeans(_blobs(spark), k=3, n_rounds=3).collect()}
    assert a == b


def test_semantic_dedup_keeps_one_per_blob(spark):
    """SemDeDup on the separable blobs: exactly one keeper per cluster,
    each blob fully counted, and the keeper is genuinely a member of the
    blob whose cluster it represents."""
    from hierarchical_graph_db_spark.operators.clustering import semantic_dedup

    out = semantic_dedup(_blobs(spark), k=3, n_rounds=3).collect()
    assert len(out) == 3
    assert sorted(r["n_members"] for r in out) == [30, 30, 30]
    assert len({r["cluster"] for r in out}) == 3
    # each keeper's own blob == the blob of every member of its cluster —
    # recovered exactly for well-separated data
    keeper_blobs = {r["keeper_id"] // 30 for r in out}
    assert keeper_blobs == {0, 1, 2}
    assert all(r["keeper_dist"] < 1.0 for r in out)


def test_kmeans_assignment_is_pure_projection(spark):
    """The corpus must never shuffle for assignment: the trained centroids
    are constants of the per-row Arrow kernel, so the final assignment
    plan is scan + project — NO join, NO exchange of any kind (the 100 TB
    contract, tightened from round 4's broadcast-join shape)."""
    plan = (
        kmeans(_blobs(spark), k=3, n_rounds=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert "CartesianProduct" not in plan


def test_semantic_dedup_keeper_is_partial_aggregate(spark):
    """The keeper pass is ONE partial-aggregable groupBy — no window and no
    corpus-to-k-reducers funnel (the round-5 fix): a ``partial_min_by``
    runs BEFORE the exchange, so each map partition emits ≤k rows and the
    exchange moves O(k·maps), never the corpus. (min_by's struct ordering
    key makes Spark pick SortAggregate — acceptable: the pre-partial sort
    is partition-local over a k-valued key, near-linear, and unlike the old
    window it never concentrates the corpus on k reducers.)"""
    from hierarchical_graph_db_spark.operators.clustering import (
        semantic_dedup,
    )

    plan = (
        semantic_dedup(_blobs(spark), k=3, n_rounds=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    assert "Join" not in plan
    assert "partial_min_by" in plan          # map-side partials
    assert plan.count("Exchange") == 1       # the O(k)-row agg exchange
    # the exchange must sit ABOVE the partial aggregate (corpus never
    # crosses it un-aggregated)
    assert plan.index("partial_min_by") > plan.index("Exchange")


def test_seeding_constant_corpus_work_independent_of_k(spark):
    """Oversampled seeding does its corpus work in the two candidate
    passes, whatever k is: the k-center greedy runs driver-side over the
    ≤2L candidate pool, never the corpus. So ``_seed_rows`` runs the same
    number of Spark jobs at k=3 and k=8, returns k distinct corpus points,
    and at k=3 puts one seed in each separated blob."""
    from hierarchical_graph_db_spark.operators.clustering import (
        _project,
        _seed_rows,
    )

    pts = _project(_blobs(spark), "vec_id", "embedding")
    sc = spark.sparkContext
    jobs, seeds = {}, {}
    for k in (3, 8):
        group = f"seed-rows-k{k}"
        sc.setJobGroup(group, group)
        try:
            seeds[k] = _seed_rows(pts, k)
        finally:
            sc._jsc.clearJobGroup()
        jobs[k] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs[3] == jobs[8] > 0
    for k, rows in seeds.items():
        assert len({pid for pid, _ in rows}) == len(rows) == k
    assert {pid // 30 for pid, _ in seeds[3]} == {0, 1, 2}


def test_semantic_dedup_sharded_blobs(spark):
    """Per-shard dedup on two shards of separable blobs: every (shard,
    cluster) pair keeps exactly one representative, shards never mix, and
    populations are preserved."""
    from pyspark.sql import functions as F

    from hierarchical_graph_db_spark.operators.clustering import (
        semantic_dedup_sharded,
    )

    df = _blobs(spark).withColumn(
        "shard", (F.col("vec_id") % 2).cast("int"))
    out = semantic_dedup_sharded(df, id_col="vec_id",
                                 vec_col="embedding", shard_col="shard",
                                 k=2, n_rounds=2).collect()
    assert {r["shard"] for r in out} == {0, 1}
    assert sum(r["n_members"] for r in out) == 90
    # keepers belong to their own shard (vec_id parity == shard)
    assert all(r["keeper_id"] % 2 == r["shard"] for r in out)
    # at most k keepers per shard
    from collections import Counter

    per_shard = Counter(r["shard"] for r in out)
    assert all(c <= 2 for c in per_shard.values())


def test_semantic_dedup_sharded_plan_shape(spark, sf_dir):
    """The query's assignment runs through the Arrow kernel since round 14
    (one ArrowEvalPython projection — no join at all, so no corpus shuffle
    by construction), and the keeper pass partial-aggregates below its
    exchange — no cartesian, no sort-merge join, no window over the corpus
    output path."""
    from hierarchical_graph_db_spark.queries import load

    plan = (
        load()["semantic_dedup_sharded"].run(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "ArrowEvalPython" in plan
    assert "partial_min_by" in plan
    assert plan.index("partial_min_by") > plan.index("Exchange")

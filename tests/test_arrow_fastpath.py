"""Arrow nearest-centroid kernel parity: the vectorized kernel must be
BIT-IDENTICAL to the sequential-fold distance and the (6dp distance, id)
total order the SQL oracle replays — on adversarial rounding ties, on
exact centroid copies and against the Catalyst fold expression. The
registry queries built on it are checked end to end against the DuckDB
oracle in ``tests/test_quantizer_oracle.py``."""

from __future__ import annotations

import numpy as np
import pytest

from hierarchical_graph_db_spark.operators.arrow_kernels import (
    nearest_centroid_batch,
)
from hierarchical_graph_db_spark.operators.clustering import (
    _py_sq_dist,
    _round6,
)
from hierarchical_graph_db_spark.operators.ivf import (
    assign_lists,
    deterministic_centroids,
)
from tests.conftest import SF_SMALL


def _emb(spark):
    return spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")


def test_arrow_kernel_rounding_ties(spark):
    """Adversarial: centroids whose exact distances to a point differ by
    less than 1e-6 — the rounded comparison ties and the smallest cid must
    win, exactly as the (d, cid) struct sort resolves it. Also pins the
    kernel against the driver-side fold twin on random batches."""
    rng = np.random.default_rng(7)
    V = rng.standard_normal((64, 8))
    cents = [(int(i), list(map(float, c)))
             for i, c in enumerate(rng.standard_normal((5, 8)))]
    # make centroid 3 an exact copy of centroid 1 → guaranteed rounded tie
    # on every row; smaller cid (1) must win
    cents[3] = (3, list(cents[1][1]))
    cids, dists = nearest_centroid_batch(cents, V, need_dist=True)
    assert 3 not in set(cids.tolist())
    # a near-tie within the rounding quantum: d(c0) - d(c1) < 1e-6
    base = [0.0, 0.0]
    c0 = (0, [1.0, 0.0])
    c1 = (1, [1.0000000002, 0.0])  # sq dists differ by ~4e-10
    tie_cids, tie_d = nearest_centroid_batch([c1, c0], np.array([base]),
                                             need_dist=True)
    assert tie_cids[0] == 0 and tie_d[0] == 1.0
    # exact-fold parity with the driver twin on every (row, centroid) pair
    for i in range(8):
        for cid, c in cents:
            want = _round6(_py_sq_dist(list(V[i]), c))
            got = _round6(float(
                np.cumsum((V[i] - np.asarray(c)) ** 2)[-1]))
            assert want == got


def test_arrow_plan_is_arrow_eval(spark):
    """The fast path must run as ArrowEvalPython (vectorized batches),
    never BatchEvalPython (row-at-a-time pickling)."""
    emb = _emb(spark)
    centers = deterministic_centroids(emb, n_lists=3, n_rounds=1,
                                      train_sample=100)
    plan = assign_lists(emb, centers)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_pool_min_dist_matches_expression(spark):
    """Randomized: the Arrow pool-min-dist kernel vs the pure expression on
    adversarially close vectors (rounding-boundary shapes included)."""
    import random

    from pyspark.sql import functions as F

    from hierarchical_graph_db_spark.operators.arrow_kernels import (
        pool_min_dist_udf,
    )
    from hierarchical_graph_db_spark.operators.clustering import _sq_dist

    rng = random.Random(7)
    dim = 8
    pool = [[round(rng.uniform(-1, 1), 3) for _ in range(dim)]
            for _ in range(6)]
    rows = [(i, [round(rng.uniform(-1, 1), 3) for _ in range(dim)])
            for i in range(64)]
    # include exact pool members (distance 0) and near-ties
    rows += [(100 + j, list(c)) for j, c in enumerate(pool)]
    df = spark.createDataFrame(rows, "pid: bigint, v: array<double>")
    expr = F.array_min(F.transform(
        F.lit(pool), lambda c: F.round(_sq_dist(F.col("v"), c), 6)))
    slow = {r["pid"]: r["m"] for r in df.select("pid", expr.alias("m")).collect()}
    fast = {r["pid"]: r["m"] for r in df.select(
        "pid", pool_min_dist_udf(pool)(F.col("v")).alias("m")).collect()}
    assert slow == fast


def _sharded_assign(spark, state, rows):
    from pyspark.sql import functions as F

    from hierarchical_graph_db_spark.operators.arrow_kernels import (
        sharded_assign_udf,
    )

    best = sharded_assign_udf(state, "bigint")(F.col("shard"), F.col("v"))
    frame = spark.createDataFrame(rows, "shard: string, v: array<double>")
    return frame.select(
        "shard", "v", best["cid"].alias("cid"), best["d"].alias("d"))


def test_sharded_assign_copy_tie_smaller_cid_wins(spark):
    """Each row is scored against its OWN shard's centroids only. In shard
    "a" centroid 9 is an exact copy of centroid 4, listed first, so every
    row of that shard ties on the rounded distance and the smaller cid (4)
    must win; each (cid, 6dp distance) equals the driver fold twin's
    lexicographic min, and no row is dropped."""
    rng = np.random.default_rng(11)
    a = [list(map(float, c)) for c in rng.standard_normal((2, 6))]
    b = [list(map(float, c)) for c in rng.standard_normal((3, 6))]
    state = [("a", [(9, a[0]), (4, a[0]), (7, a[1])]),
             ("b", [(1, b[0]), (2, b[1]), (3, b[2])])]
    rows = [("a" if i % 3 else "b", list(map(float, v)))
            for i, v in enumerate(rng.standard_normal((40, 6)))]
    rows += [("a", list(a[0])), ("b", list(b[2]))]  # distance-0 rows
    out = _sharded_assign(spark, state, rows).collect()
    assert len(out) == len(rows)
    cents = dict(state)
    for r in out:
        want = min((_round6(_py_sq_dist(list(r["v"]), c)), cid)
                   for cid, c in cents[r["shard"]])
        assert (r["d"], r["cid"]) == want
        assert r["cid"] != 9
    assert {r["cid"] for r in out if r["shard"] == "a"} <= {4, 7}
    assert {r["cid"] for r in out if r["shard"] == "b"} <= {1, 2, 3}


def test_sharded_assign_missing_shard_raises(spark):
    """A row whose shard has no centroids in ``state`` must fail the
    query, never come back silently dropped or unassigned."""
    state = [("a", [(1, [0.0, 0.0]), (2, [1.0, 1.0])])]
    rows = [("a", [0.1, 0.0]), ("z", [0.9, 1.0]), ("a", [1.0, 0.9])]
    with pytest.raises(Exception, match="KeyError"):
        _sharded_assign(spark, state, rows).collect()

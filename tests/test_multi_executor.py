"""Multi-executor execution equivalence (VERDICT r7 next-round item 1).

Every benchmark/correctness number before round 8 came from ``local[N]`` —
one JVM, where "executor loss" cannot happen and ``localCheckpoint`` blocks
can never be remote.  These tests run the iterative operator family under
``local-cluster[2,2,2048]`` — two *separate executor JVMs* with real
serialization boundaries, remote shuffle fetches, and executor-side Python
workers — with ``SPARK_GRAFT_CHECKPOINT_DIR`` set, which flips every
``materialize()`` call (materialize.py) from executor-local
``localCheckpoint()`` to the durable, lineage-safe ``checkpoint()`` path a
real 1000-executor cluster needs.

Pin: the (rows, order-insensitive sha256) of each query is *identical* across
the two execution modes.  That proves (a) the durable-checkpoint branch
works end-to-end, and (b) the iterative plans are partitioning-deterministic
— no hidden dependence on single-JVM block locality or accumulation order.

Each sweep runs in a subprocess: a SparkSession's master is fixed at JVM
launch, so the local-cluster run cannot share the suite's session fixture.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SWEEP = os.path.join(REPO, "tools", "multi_executor_sweep.py")
SF_DIR = "/root/testdata/sf0.001"

# The iterative family: driver-side loops whose per-round state is cut by
# materialize().  These are exactly the plans where durable checkpointing
# and multi-JVM execution could diverge from local[N].
QUERIES = [
    "graph_pagerank",
    "graph_connected_components",
    "graph_ktruss_edges",
    "graph_betweenness_sampled",
    "embedding_kmeans_clusters",
    "quality_lr_scores",
    "bpe_train_merges",
    "cdc_apply_changelog",
]


def _run_sweep(out_path: str, extra: list[str]) -> dict:
    env = dict(os.environ)
    # Never inherit a master/checkpoint setting from the outer test env.
    env.pop("SPARK_MASTER", None)
    env.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)
    env["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = "4"
    env["SPARK_GRAFT_CPUS"] = "4"
    proc = subprocess.run(
        [sys.executable, SWEEP, SF_DIR, out_path, *QUERIES, *extra],
        env=env, capture_output=True, text=True, timeout=1800,
    )
    assert proc.returncode == 0, (
        f"sweep failed\nstdout:\n{proc.stdout[-4000:]}\n"
        f"stderr:\n{proc.stderr[-4000:]}"
    )
    with open(out_path) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def sweeps():
    with tempfile.TemporaryDirectory(prefix="mexec_") as tmp:
        local = _run_sweep(os.path.join(tmp, "local.json"), [])
        cluster = _run_sweep(
            os.path.join(tmp, "cluster.json"),
            ["--master", "local-cluster[2,2,2048]",
             "--checkpoint-dir", os.path.join(tmp, "ckpt")],
        )
        yield local, cluster


def test_cluster_mode_actually_multi_jvm_and_durable(sweeps):
    local, cluster = sweeps
    assert local["master"].startswith("local[")
    assert local["checkpoint_dir"] is None  # localCheckpoint branch
    assert cluster["master"] == "local-cluster[2,2,2048]"
    assert cluster["checkpoint_dir"] is not None  # checkpoint() branch


@pytest.mark.parametrize("name", QUERIES)
def test_hash_identical_across_execution_modes(sweeps, name):
    local, cluster = sweeps
    def strip_timing(r):
        return {k: v for k, v in r.items() if k != "secs"}

    assert (strip_timing(local["results"][name])
            == strip_timing(cluster["results"][name])), (
        f"{name}: local[N] and local-cluster+durable-checkpoint results "
        f"diverge — plan is not partitioning-deterministic or the durable "
        f"checkpoint path changed semantics"
    )

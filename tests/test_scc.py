"""Strongly connected components: hand-built graphs, a differential check
against driver-side Tarjan, and the multi-round (deep condensation) path."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Row

from hierarchical_graph_db_spark.operators.graph import (
    strongly_connected_components,
)


def _tarjan(edges: list[tuple[str, str]]) -> dict[str, str]:
    """Reference SCC (iterative Tarjan), labels = min member id."""
    adj: dict[str, list[str]] = {}
    verts: set[str] = set()
    for s, d in edges:
        if s == d:
            continue
        verts.add(s)
        verts.add(d)
        adj.setdefault(s, []).append(d)
    index: dict[str, int] = {}
    low: dict[str, int] = {}
    on_stack: set[str] = set()
    stack: list[str] = []
    comp: dict[str, str] = {}
    counter = [0]

    for root in sorted(verts):
        if root in index:
            continue
        work = [(root, iter(adj.get(root, ())))]
        index[root] = low[root] = counter[0]
        counter[0] += 1
        stack.append(root)
        on_stack.add(root)
        while work:
            v, it = work[-1]
            advanced = False
            for w in it:
                if w not in index:
                    index[w] = low[w] = counter[0]
                    counter[0] += 1
                    stack.append(w)
                    on_stack.add(w)
                    work.append((w, iter(adj.get(w, ()))))
                    advanced = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if advanced:
                continue
            work.pop()
            if work:
                pv = work[-1][0]
                low[pv] = min(low[pv], low[v])
            if low[v] == index[v]:
                members = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    members.append(w)
                    if w == v:
                        break
                label = min(members)
                for m in members:
                    comp[m] = label
    return comp


def _run(spark, edges: list[tuple[str, str]], **kw) -> dict[str, str]:
    # small_cutoff=0 → the pure distributed FW-BW-MIN path; the hybrid
    # driver-finish default is covered by test_scc_hybrid_matches_distributed.
    kw.setdefault("small_cutoff", 0)
    df = spark.createDataFrame([Row(src=s, dst=d) for s, d in edges])
    return {r["id"]: r["scc"]
            for r in strongly_connected_components(df, **kw).collect()}


def test_scc_basic_shapes(spark):
    """3-cycle + 2-cycle bridged by one-way edges + a DAG tail: the cycles
    must NOT merge (the bridge is one-directional) and the tail vertices
    are singletons."""
    edges = [("a", "b"), ("b", "c"), ("c", "a"),   # 3-cycle
             ("x", "y"), ("y", "x"),               # 2-cycle
             ("y", "a"),                           # one-way bridge
             ("c", "d"), ("d", "e")]               # DAG tail
    got = _run(spark, edges)
    assert got == {"a": "a", "b": "a", "c": "a",
                   "x": "x", "y": "x", "d": "d", "e": "e"}


def test_scc_labels_are_min_member(spark):
    got = _run(spark, [("q", "m"), ("m", "q"), ("m", "z"), ("z", "m")])
    assert set(got.values()) == {"m"}


def test_scc_deep_condensation_chain(spark):
    """A chain of 2-cycles c0↔c0b → c1↔c1b → … has SCC-condensation depth
    equal to the chain length — exercises the multi-round outer loop (one
    ring retires per round at minimum)."""
    edges = []
    for i in range(8):
        edges += [(f"r{i}a", f"r{i}b"), (f"r{i}b", f"r{i}a")]
        if i:
            edges.append((f"r{i-1}a", f"r{i}a"))
    got = _run(spark, edges)
    assert {got[f"r{i}a"] for i in range(8)} == {f"r{i}a" for i in range(8)}
    for i in range(8):
        assert got[f"r{i}a"] == got[f"r{i}b"] == f"r{i}a"


def test_scc_matches_tarjan_random(spark):
    """Differential check on a sparse pseudo-random digraph (seeded): the
    distributed coloring must equal driver-side Tarjan exactly — SCC with
    min-member labels is algorithm-independent."""
    rng = random.Random(11)
    edges = list({(f"n{rng.randrange(36)}", f"n{rng.randrange(36)}")
                  for _ in range(70)})
    edges = [(s, d) for s, d in edges if s != d]
    assert _run(spark, edges) == _tarjan(edges)


def test_scc_nonconvergence_raises(spark):
    """max_rounds too small for the condensation depth → loud failure, not
    a silent partial labeling."""
    edges = []
    for i in range(4):
        edges += [(f"r{i}a", f"r{i}b"), (f"r{i}b", f"r{i}a")]
        if i:
            edges.append((f"r{i-1}a", f"r{i}a"))
    df = spark.createDataFrame([Row(src=s, dst=d) for s, d in edges])
    with pytest.raises(RuntimeError, match="did not converge"):
        strongly_connected_components(df, max_rounds=1, small_cutoff=0)


def test_scc_no_real_edges_returns_empty(spark):
    """Self-loop-only input (no non-self-loop edges) → empty (id, scc)
    frame in the input id dtype, not IndexError (ADVICE r11)."""
    df = spark.createDataFrame([Row(src="a", dst="a"), Row(src="b", dst="b")])
    out = strongly_connected_components(df)
    assert out.columns == ["id", "scc"]
    assert [f.dataType.simpleString() for f in out.schema.fields] == \
        ["string", "string"]
    assert out.count() == 0


def test_min_reach_nonconvergence_raises(spark):
    """An undersized inner max_iter must raise, not silently hand SCC a
    partial fixpoint that could retire vertices under non-min labels
    (ADVICE r11)."""
    chain = [(f"v{i}", f"v{i+1}") for i in range(9)] + [("v9", "v0")]
    df = spark.createDataFrame([Row(src=s, dst=d) for s, d in chain])
    with pytest.raises(RuntimeError, match="fixpoint"):
        strongly_connected_components(df, max_iter=1, small_cutoff=0)


def test_scc_hybrid_matches_distributed(spark):
    """The small_cutoff driver-finish (Tarjan on the bounded remainder)
    must produce exactly the distributed fixpoint's labeling."""
    rng = random.Random(23)
    edges = list({(f"n{rng.randrange(30)}", f"n{rng.randrange(30)}")
                  for _ in range(55)})
    edges = [(s, d) for s, d in edges if s != d]
    hybrid = _run(spark, edges, small_cutoff=4096)
    distributed = _run(spark, edges, small_cutoff=0)
    assert hybrid == distributed == _tarjan(edges)


def test_dag_layers_longest_path(spark):
    """Diamond + tail: layer = longest path from any source, not shortest
    (b→c makes c layer 2 even though a→c is a 1-hop path)."""
    from hierarchical_graph_db_spark.operators.graph import dag_layers

    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d")]
    df = spark.createDataFrame([Row(src=s, dst=d) for s, d in edges])
    expect = {"a": 0, "b": 1, "c": 2, "d": 3}
    for cutoff in (4096, 0):   # driver kernel AND distributed relaxation
        got = {r["id"]: r["layer"]
               for r in dag_layers(df, small_cutoff=cutoff).collect()}
        assert got == expect, f"cutoff={cutoff}" 


def test_dag_layers_cycle_raises(spark):
    from hierarchical_graph_db_spark.operators.graph import dag_layers

    df = spark.createDataFrame(
        [Row(src=s, dst=d) for s, d in [("a", "b"), ("b", "c"), ("c", "a")]])
    for cutoff in (4096, 0):   # both paths must detect the cycle
        with pytest.raises(RuntimeError, match="cycle"):
            dag_layers(df, max_iter=8, small_cutoff=cutoff)


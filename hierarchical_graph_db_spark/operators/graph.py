"""Hierarchical-graph layer (SURVEY.md §2.10 G1-G5) as DataFrame algorithms.

The reference *declares* a relationship/communication graph, thread
reconstruction, and hierarchy rollups but implements none of them
(README.md:86-89; placeholders ``parsing_agent.py:62-63``). We implement them
GraphFrames-style — vertices/edges DataFrames and iterative join algorithms —
without the GraphFrames JAR dependency (plan B of SURVEY.md §7): connected
components via min-label propagation with pointer jumping, PageRank via
out-degree joins. Both loop on the driver but every *step* is a distributed
join/agg; intermediate states are materialized per round to cut lineage
(durable checkpoint() on a cluster, localCheckpoint locally — materialize.py).

Scale posture: edges shuffle on src/dst only; iteration state is one
(vertex, component|rank) table repartitioned consistently on id so successive
joins reuse the partitioning. For 100 TB graphs the loop count is bounded:
pointer jumping makes the label fixpoints (CC, SCC) converge in
O(log diameter) rounds.

Two private skeletons carry every operator: :func:`_driver_finish` (the
hybrid small-graph gate, one bounded pull, one local re-emit) and
:func:`_fixpoint` (the observe-counted superstep loop that converges or
raises).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, StringType, StructType

from hierarchical_graph_db_spark.localdf import collect_tuples, local_rows_df
from hierarchical_graph_db_spark.materialize import materialize
from hierarchical_graph_db_spark.operators.clustering import _round6


#: Fixed-point scale for order-independent rank-mass sums in the iterative
#: algorithms. This is an ABSOLUTE 1e-15 grid (15 decimal *places*, not 15
#: significant decimals): rank-type state lives in [0, 1] and each
#: aggregate's total mass is ≤ 1, so ``round(x·1e15)`` sums stay ≤ 1e15 —
#: well under both the bigint ceiling (9.2e18, ~9000× headroom) and 2^53
#: (9.0e15), so the double multiply + round that produces each quantum is
#: still exact integer arithmetic. Integer addition commutes exactly under
#: partial aggregation, so every iteration is bit-reproducible across
#: partitionings and engines (the ``hits()`` treatment, VERDICT r7 item 2,
#: applied to the one remaining order-dependent double accumulation).
#:
#: Precision ceiling (absolute grid → scale-dependent significant digits):
#: per-vertex ranks are ~1/|V|, so a vertex keeps ``15 - log10(|V|)``
#: significant digits — 9 at a million vertices, 6 at a billion. Per-edge
#: contributions ``rank/out_degree`` truncate to 0 below 5e-16, so mass is
#: silently lost once ``|V| · max_out_degree`` approaches 1e15. Beyond that
#: regime the iterative rankers switch (``grid="auto"``) to the RELATIVE
#: grid below, which quantizes ``rank·|V|`` instead.
_RANK_FP = 1_000_000_000_000_000

#: Worst-case exact-bigint budget for one fixed-point mass sum: total rank
#: mass is ≤ 1, so a factor-FP quantization sums to ≤ FP quanta; keeping
#: FP ≤ 8e18 leaves ~15% headroom under the int64 ceiling (9.22e18).
_FP_BUDGET = 8_000_000_000_000_000_000

#: ``grid="auto"`` switches absolute → relative above this vertex count.
#: Justification: the smallest per-edge contribution is ≥ (1-d)/(n·d_out)
#: ≥ 0.15/n² (out-degree ≤ n), which stays above the absolute grid's
#: 5e-16 truncation floor while n ≤ √(0.15/5e-16) ≈ 1.7e7 — so below this
#: threshold the absolute grid provably loses NO contribution quantum and
#: the two grids agree to within one 1e-15 quantum per term.
_AUTO_GRID_MAX_N = 10_000_000


def _relative_fp(n: int) -> int:
    """Relative-grid factor for an n-vertex graph: quantize ``rank·n``
    (≈ 1 per typical vertex) on the finest power-of-ten grid 1/Q whose
    worst-case sum (total mass 1 → n·Q quanta) fits ``_FP_BUDGET``;
    expressed as a factor on ``rank`` itself, i.e. n·Q.

    Why this beats the absolute grid at scale: a per-edge contribution
    ``rank/out_degree ≈ 1/(n·d)`` lands on the relative grid at
    ``n·rank/d ≈ 1/d`` — representable independent of |V| (truncation now
    needs d > 2Q, impossible while n² < 2·budget, and loses < 0.5/Q of
    total mass even past that). The multiply ``x·(n·Q)`` can exceed 2^53
    for hub-sized ranks, so individual quanta may round off-by-one from
    the mathematically nearest integer — still a pure function of the
    term, so order-independence and cross-engine reproducibility hold.
    """
    n = max(n, 1)
    q = 1
    while q < _RANK_FP and n * q * 10 <= _FP_BUDGET:
        q *= 10
    return n * q


def _resolve_fp(n: int | None, grid: str) -> int:
    """Pick the fixed-point factor for a run: ``absolute`` = the 1e-15
    grid (the registry/oracle contract), ``relative`` = :func:`_relative_fp`
    (the engine default — no |V| truncation cliff), ``auto`` = absolute
    within its provably-exact regime (n ≤ 1e7), relative beyond. The
    absolute grid does not depend on ``n``, so callers may pass None."""
    if grid not in ("absolute", "relative", "auto"):
        raise ValueError(
            f"grid must be absolute|relative|auto, got {grid!r}")
    if grid == "absolute":
        return _RANK_FP
    if grid == "relative":
        return _relative_fp(n)
    return _RANK_FP if n <= _AUTO_GRID_MAX_N else _relative_fp(n)


def _fp_sum(col, fp: int = _RANK_FP):
    """Order-independent sum of a [0,1] rank-mass column: quantize each term
    to a 1/fp grid as bigint, sum exactly, rescale. NULL-on-empty like
    ``sum``. See the ``_RANK_FP`` note for the |V| precision ceiling of the
    default absolute grid and :func:`_relative_fp` for the scale path."""
    return (F.sum(F.round(col * F.lit(float(fp))).cast("bigint"))
            / F.lit(float(fp)))


def _materialize_counted(df: DataFrame) -> tuple[DataFrame, Observation]:
    """Materialize a loop-state frame with its row count riding the same job
    as an ``observe()`` metric. Frontier loops (BFS, sigma-BFS) previously
    ran a ``limit(1).count()`` job after each round's materialization just
    to test emptiness — one extra (cheap but nonzero) job per iteration.
    ``obs.get["n"]`` is available as soon as the eager materialization ran.
    """
    obs = Observation()
    out = df.observe(obs, F.count(F.lit(1)).alias("n")).transform(materialize)
    return out, obs


def _driver_finish(edges: DataFrame, small_cutoff: int, schema: str, kernel,
                   vertices: DataFrame | None = None,
                   pull: DataFrame | None = None) -> DataFrame | None:
    """The hybrid driver finish every graph operator shares (the SCC
    treatment of Hong, Rodia & Olukotun, PPoPP 2013, applied at the front
    door). When ``edges`` has at most 32·``small_cutoff`` rows, pull it (or
    ``pull``, a frame derived from it), plus the ``vertices`` id list when
    given, run ``kernel(edge_rows[, vertex_ids])`` on the driver and
    re-emit its rows as a local DataFrame of the DDL ``schema``, whose
    ``{id}`` placeholder is the vertex id type (of ``vertices``, else of
    the first ``edges`` column). Returns None when the edge set is over the
    bound, and always for ``small_cutoff=0``, which forces the caller's
    distributed path (the 100 TB shape, and what the differential tests
    exercise). Callers check their own extra preconditions first.

    The probe is LIMIT-bounded: ``limit(bound+1).count()`` short-circuits
    after the first partitions yield bound+1 rows instead of paying a full
    count to reject the driver path. Every kernel is exact — a canonical
    output (component ids, hop counts, integer counts) or a bit-exact
    replay of the distributed fixed-point arithmetic — so both paths
    return the identical table."""
    if not small_cutoff:
        return None
    bound = 32 * small_cutoff
    if edges.limit(bound + 1).count() > bound:
        return None
    edge_rows = collect_tuples(edges if pull is None else pull)
    if vertices is None:
        rows = kernel(edge_rows)
    else:
        rows = kernel(edge_rows, [r[0] for r in vertices.collect()])
    id_type = (edges if vertices is None else vertices).schema[0].dataType
    return local_rows_df(
        edges.sparkSession, rows,
        StructType.fromDDL(schema.format(id=id_type.simpleString())))


def _fixpoint(state: DataFrame, step, changed, max_iter: int, name: str,
              hint: str) -> DataFrame:
    """The superstep loop of the fixpoint operators: ``state = step(state)``,
    materialized every round to cut the lineage, until no row changed.
    ``step`` returns the next state plus an ``_old`` column holding each
    row's previous value, and ``changed`` is the Column that flags a row
    whose value moved. The changed-count is an ``observe`` metric riding
    the round's own materialization job, so the convergence check costs no
    extra job. Reaching ``max_iter`` rounds without a fixpoint raises
    ``RuntimeError`` naming the operator ``name``, followed by ``hint``: a
    silently partial fixpoint would be a wrong-but-plausible answer."""
    for _ in range(max_iter):
        obs = Observation()
        state = (
            step(state)
            .observe(obs, F.coalesce(F.sum(changed.cast("long")),
                                     F.lit(0)).alias("changed"))
            .drop("_old")
        ).transform(materialize)
        if obs.get["changed"] == 0:
            return state
    raise RuntimeError(
        f"{name} did not converge: no fixpoint within {max_iter} rounds — "
        f"{hint}")


def _quanta(x):
    """Driver twin of ``round(x).cast("bigint")`` on doubles for the
    fixed-point sums. Spark's round(double) is HALF_UP over the shortest
    decimal repr. For non-midpoint doubles that equals nearest-integer (the
    shortest repr can never cross a representable ``n.5`` midpoint without
    violating round-trip), and an exact midpoint double rounds up —
    computed here as ``floor(x) + (x-floor(x) >= 0.5)``, where the
    subtraction is exact by Sterbenz; integral doubles ≥ 2^53 pass through
    unchanged exactly as BigDecimal's ``doubleValue`` round-trip does."""
    fl = np.floor(x)
    return (fl + ((x - fl) >= 0.5)).astype(np.int64)


def communication_edges(emails: DataFrame) -> DataFrame:
    """G3: explode recipient arrays into (src, dst, kind, date) edges.

    ``select(from as src, explode(to|cc|bcc) as dst)`` — one narrow pass, no
    shuffle; weighting afterwards is one groupBy.
    """
    def one(kind: str) -> DataFrame:
        return emails.select(
            F.col("from").alias("src"),
            F.explode(kind).alias("dst"),
            F.lit(kind).alias("kind"),
            F.col("date"),
        )

    return one("to").unionByName(one("cc")).unionByName(one("bcc")).where(
        (F.col("src") != "") & (F.col("dst") != "")
    )


def edge_weights(edges: DataFrame) -> DataFrame:
    """Weighted graph: one row per (src, dst) with interaction count."""
    return edges.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("weight"))


def degrees(edges: DataFrame) -> DataFrame:
    """In/out/total degree per vertex — two aggs + one outer join (both sides
    shuffle on the vertex id; at scale this is the natural partitioning)."""
    out_d = edges.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("out_degree"))
    in_d = edges.groupBy(F.col("dst").alias("id")).agg(F.count(F.lit(1)).alias("in_degree"))
    return (
        out_d.join(in_d, on="id", how="full_outer")
        .select(
            "id",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
        .withColumn("degree", F.col("out_degree") + F.col("in_degree"))
    )


def _driver_components(edge_rows: list[tuple]) -> list[tuple]:
    """Union-find over a bounded edge list → (id, min-member-id) rows.
    Exact by canonicality: ``connected_components``' output (component =
    min member id) is algorithm-independent, so any correct sequential
    kernel produces the identical table — the same argument that lets the
    SCC hybrid finish with Tarjan."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in edge_rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for v in parent:
        r = find(v)
        if r not in comp_min or v < comp_min[r]:
            comp_min[r] = v
    return [(v, comp_min[find(v)]) for v in parent]


def connected_components(edges: DataFrame, max_iter: int = 20,
                         small_cutoff: int = 16384) -> DataFrame:
    """Min-label propagation + pointer jumping → (id, component).

    ``small_cutoff`` is the hybrid driver finish (:func:`_driver_finish`):
    when the deduplicated symmetric edge set fits the bound (≤ 32·cutoff
    edges — vertices are then ≤ 64·cutoff), it is pulled to the driver and
    finished with union-find. The output is CANONICAL (component = min
    member id), so any correct kernel produces the identical table — no
    arithmetic twin needed. This replaces O(log diameter) join+materialize
    rounds with one bounded collect; ``small_cutoff=0`` forces the pure
    distributed path. The default bound (≤ 2^19 edges ≈ tens of MB pulled
    as Arrow batches) is deliberately wider than SCC's: union-find is
    near-linear with trivial constants, so the driver kernel's crossover
    against O(log diameter) distributed rounds lies far above it.

    The distributed path is :func:`_min_reach_labels` over the symmetric
    edge set: on an undirected graph "the minimum id that reaches v" is the
    minimum id of v's component. Each round does two steps:

    1. *propagate*: component[v] = min over neighbors' components (and own);
    2. *pointer-jump* (path compression): component[v] = component[component[v]]
       — labels chase their own label's label, doubling the hop distance a
       round covers.

    Plain propagation converges in O(diameter) rounds (a 1M-long chain in a
    100 TB graph = 1M shuffles); with the jump step convergence is
    O(log diameter). Component ids are always *vertex* ids, so the jump join
    always hits. Stops early when no label changes, and raises
    ``RuntimeError`` if ``max_iter`` rounds do not reach the fixpoint.
    """
    sym = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
    ).transform(materialize)
    out = _driver_finish(sym, small_cutoff, "id {id}, component {id}",
                         _driver_components)
    if out is not None:
        return out
    labels = _min_reach_labels(
        sym.select(F.col("b").alias("src"), F.col("a").alias("dst")),
        sym.select(F.col("a").alias("id")).distinct(), max_iter,
        "connected_components")
    return labels.withColumnRenamed("label", "component")


def _min_reach_labels(edges: DataFrame, vertices: DataFrame, max_iter: int,
                      name: str) -> DataFrame:
    """Directed min-label propagation + pointer jumping → (id, label) where
    ``label`` = the minimum vertex id with a directed path TO ``id``
    (every vertex reaches itself). The invariant "label(v) reaches v" is
    preserved by both steps: an in-neighbor's label reaches the neighbor and
    hence v (edge relax), and label(label(v)) reaches label(v) which reaches
    v (jump) — the jump step is what makes convergence O(log diameter)
    instead of O(diameter). Over a symmetric edge set this is
    :func:`connected_components`.

    Raises ``RuntimeError`` naming the caller ``name`` if the fixpoint is
    not reached within ``max_iter`` (:func:`_fixpoint`):
    :func:`strongly_connected_components` retires vertices (and deletes
    their edges) based on these labels, so a silently partial fixpoint
    could retire part of an SCC under a non-min label and split the
    remainder with no error. Unreachable at SCC's default ``max_iter=40``
    (pointer jumping covers diameter 2^40), but callers passing small
    values must get an error, not corrupt output."""
    def step(labels: DataFrame) -> DataFrame:
        nbr_min = (
            edges.join(
                labels.select(F.col("id").alias("src"), "label"), on="src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        propagated = (
            labels.join(nbr_min, on="id", how="left")
            .select(
                "id",
                F.col("label").alias("_old"),
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
        )
        jump_target = propagated.select(
            F.col("id").alias("label"), F.col("label").alias("_jumped")
        )
        return propagated.join(jump_target, on="label", how="left").select(
            "id",
            "_old",
            F.least(
                F.col("label"), F.coalesce("_jumped", F.col("label"))
            ).alias("label"),
        )

    labels = vertices.select(F.col("id"), F.col("id").alias("label"))
    return _fixpoint(labels.transform(materialize), step,
                     F.col("label") != F.col("_old"), max_iter, name,
                     "raise max_iter (labels were still changing)")


def _tarjan_scc(edge_list: list[tuple], vert_list: list) -> list[tuple]:
    """Sequential Tarjan over a collected edge list → [(id, scc)] with
    min-member labels. Iterative (no recursion limit); used only on
    driver-bounded remainders (see ``strongly_connected_components``)."""
    adj: dict = {}
    verts = set(vert_list)
    for s, d in edge_list:
        if s == d:
            continue
        verts.add(s)
        verts.add(d)
        adj.setdefault(s, []).append(d)
    index: dict = {}
    low: dict = {}
    on_stack: set = set()
    stack: list = []
    out: list[tuple] = []
    counter = 0
    for root in sorted(verts):
        if root in index:
            continue
        work = [(root, iter(adj.get(root, ())))]
        index[root] = low[root] = counter
        counter += 1
        stack.append(root)
        on_stack.add(root)
        while work:
            v, it = work[-1]
            advanced = False
            for w in it:
                if w not in index:
                    index[w] = low[w] = counter
                    counter += 1
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
                out.extend((m, label) for m in members)
    return out


def strongly_connected_components(edges: DataFrame, max_rounds: int = 100,
                                  max_iter: int = 40,
                                  small_cutoff: int = 4096) -> DataFrame:
    """Strongly connected components over directed (src, dst) edges →
    (id, scc), where ``scc`` is the lexicographic-min member id — the
    canonical label, so the output is algorithm-independent (any correct
    SCC computation produces the identical table; the DuckDB oracle uses a
    plain reachability closure, not this algorithm).

    FW-BW-MIN coloring (Orzan 2004-family; the distributed standard since
    plain Tarjan is inherently sequential). Per round, two directed
    min-label fixpoints over the still-active subgraph:

    * ``f(v)`` = min id that reaches v   (propagate along edges),
    * ``b(v)`` = min id v reaches        (propagate along reversed edges),

    then every vertex with ``f(v) == b(v) == m`` is assigned scc = m: m
    reaches v and v reaches m, so v ∈ SCC(m); and m is the SCC min (a
    smaller member would reach v, contradicting f(v) = m). Assigned
    vertices and their edges are removed and the round repeats — removing
    whole SCCs never splits or merges the remaining ones. The global-min
    active vertex always satisfies f == b, so every round retires at least
    one SCC; dense graphs (the fixture shape) retire almost everything in
    the first round, while a pathological k-chain DAG needs k rounds —
    hence ``max_rounds`` with a loud failure instead of a silent partial
    result.

    ``small_cutoff`` is the hybrid finish (Hong, Rodia & Olukotun, PPoPP
    2013: FW-BW for the massive components, sequential for the long tail):
    whenever the ACTIVE remainder fits the bound (≤ cutoff vertices and
    ≤ 32·cutoff edges — both checked), it is pulled to the driver and
    finished with iterative Tarjan, a bounded pull like the centroid /
    merge-table pulls elsewhere. This kills the tiny-job tail: after the
    giant SCCs retire distributed, the periphery (chains, singleton trees
    — exactly the shapes that cost one 2-fixpoint round EACH) collapses
    into one driver kernel. ``small_cutoff=0`` forces the pure distributed
    path (the tests' Tarjan differential runs both ways).

    Scale posture: state is one (id, label) table per fixpoint, shuffled on
    the vertex id; each inner iteration is one edge join + one self join,
    O(log diameter) iterations via pointer jumping; no closure table is
    ever materialized (reachability closure is O(Σ SCC²) pairs — the
    oracle can afford it on a bounded subgraph, a 100 TB graph cannot).
    """
    active_e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    ).transform(materialize)
    active_v = (
        active_e.select(F.col("src").alias("id"))
        .union(active_e.select(F.col("dst").alias("id")))
        .distinct()
    ).transform(materialize)
    parts: list[DataFrame] = []
    remaining = active_v.count()
    for _ in range(max_rounds):
        if remaining == 0:
            break
        if remaining <= small_cutoff:
            out = _driver_finish(active_e, small_cutoff, "id {id}, scc {id}",
                                 _tarjan_scc, vertices=active_v)
            if out is not None:
                parts.append(out)
                remaining = 0
                break
        fwd = _min_reach_labels(active_e, active_v, max_iter,
                                "strongly_connected_components")
        bwd = _min_reach_labels(
            active_e.select(F.col("dst").alias("src"),
                            F.col("src").alias("dst")),
            active_v, max_iter, "strongly_connected_components")
        done = (
            fwd.join(bwd.withColumnRenamed("label", "_blabel"), on="id")
            .where(F.col("label") == F.col("_blabel"))
            .select("id", F.col("label").alias("scc"))
        ).transform(materialize)
        parts.append(done)
        active_v = active_v.join(done, on="id", how="left_anti")
        active_v = active_v.transform(materialize)
        remaining = active_v.count()
        if remaining == 0:
            break
        active_e = (
            active_e
            .join(done.select(F.col("id").alias("src")), on="src",
                  how="left_anti")
            .join(done.select(F.col("id").alias("dst")), on="dst",
                  how="left_anti")
            .select("src", "dst")
        ).transform(materialize)
    if remaining != 0:
        raise RuntimeError(
            f"strongly_connected_components did not converge in "
            f"{max_rounds} rounds ({remaining} vertices unassigned) — "
            f"raise max_rounds (graph has a very deep SCC condensation)")
    if not parts:
        # No non-self-loop edges: the active set was empty before the first
        # round. Return an empty (id, scc) frame in the input's id dtype
        # rather than IndexError on parts[0].
        id_type = active_v.schema[0].dataType.simpleString()
        return local_rows_df(active_v.sparkSession, [], StructType.fromDDL(
            f"id {id_type}, scc {id_type}"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _driver_dag_layers(edge_rows: list[tuple],
                       vert_rows: list) -> list[tuple]:
    """Driver twin of :func:`dag_layers`: Kahn topological order + the
    longest-path DP, raising on a cycle like the distributed loop."""
    layer = {v: 0 for v in vert_rows}
    indeg = {v: 0 for v in vert_rows}
    succ: dict = {}
    for s, d in edge_rows:
        if s == d:
            raise RuntimeError("dag_layers: self-loop — the input has a cycle")
        succ.setdefault(s, []).append(d)
        indeg[d] += 1
    frontier = sorted(v for v, k in indeg.items() if k == 0)
    seen = 0
    while frontier:
        nxt = []
        for v in frontier:
            seen += 1
            for w in succ.get(v, ()):
                layer[w] = max(layer[w], layer[v] + 1)
                indeg[w] -= 1
                if indeg[w] == 0:
                    nxt.append(w)
        frontier = sorted(nxt)
    if seen != len(vert_rows):
        raise RuntimeError(
            "dag_layers did not converge — the input has a cycle; "
            "longest-path layering is only defined on DAGs")
    return sorted(layer.items())


def dag_layers(edges: DataFrame, max_iter: int = 64,
               small_cutoff: int = 4096) -> DataFrame:
    """Longest-path layering of a DAG → (id, layer): layer 0 = sources,
    layer(v) = 1 + max over predecessors — the dependency-scheduling order
    (every vertex's prerequisites live in strictly lower layers). Intended
    for SCC condensations (:func:`strongly_connected_components` output is
    a DAG by construction) but works on any acyclic (src, dst) edge set.

    Iterative max-relaxation: one edge join + max-agg per round, state is
    one (id, layer) table shuffled on id; rounds = longest-path depth.
    Non-convergence within ``max_iter`` means a CYCLE — raised loudly
    (longest path is undefined on cyclic graphs), which doubles as an
    acyclicity validator.

    ``small_cutoff``: same hybrid finish as
    :func:`strongly_connected_components` — a DAG that fits the bound
    (≤ cutoff vertices, ≤ 32·cutoff edges) is layered in one driver
    kernel (Kahn topo-order + DP) instead of depth-many tiny relaxation
    jobs; ``small_cutoff=0`` forces the distributed path."""
    verts = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    ).transform(materialize)
    if small_cutoff and verts.count() <= small_cutoff:
        out = _driver_finish(edges, small_cutoff, "id {id}, layer bigint",
                             _driver_dag_layers, vertices=verts,
                             pull=edges.select("src", "dst").distinct())
        if out is not None:
            return out

    def step(layers: DataFrame) -> DataFrame:
        relaxed = (
            edges.join(layers.select(F.col("id").alias("src"), "layer"),
                       on="src")
            .groupBy(F.col("dst").alias("id"))
            .agg((F.max("layer") + 1).alias("pred_layer"))
        )
        return layers.join(relaxed, on="id", how="left").select(
            "id",
            F.col("layer").alias("_old"),
            F.greatest(
                F.col("layer"), F.coalesce("pred_layer", F.col("layer")),
            ).alias("layer"),
        )

    return _fixpoint(
        verts.withColumn("layer", F.lit(0).cast("long")), step,
        F.col("layer") != F.col("_old"), max_iter, "dag_layers",
        "the input has a cycle (or a longest path deeper than max_iter); "
        "longest-path layering is only defined on DAGs")


def _driver_rank(vert_rows: list, edge_rows: list[tuple], rank: np.ndarray,
                 teleport, n_iter: int, damping: float,
                 fp: int) -> list[tuple]:
    """Bit-exact driver twin of :func:`_rank_supersteps`, the hybrid
    small-graph finish of :func:`pagerank` and
    :func:`personalized_pagerank`. ``rank`` is the initial vector over
    ``vert_rows`` and ``teleport(dangling)`` the operator's teleport term.
    Every arithmetic step mirrors the Spark expressions ON THE SAME
    IEEE-754 doubles in the same order:

    * ``contrib = rank/out_degree`` — one double divide per edge row
      (``deg`` converted long→double exactly, as Spark's implicit cast);
    * ``_fp_sum``'s ``round(x·fp)`` — :func:`_quanta`;
    * quanta sums in int64 (commutative, so grouping order is free — the
      same argument that makes the distributed sum partition-independent);
    * the update ``teleport(dangling) + d·in_rank`` with the exact
      literal/operator associativity of the Spark plan, which the caller's
      ``teleport`` reproduces.

    numpy elementwise ops are scalar IEEE ops in a loop — no FMA, no
    reassociation — so each output double is bit-identical to the
    distributed path's.
    """
    n = len(vert_rows)
    idx = {v: i for i, v in enumerate(vert_rows)}
    src_i = np.fromiter((idx[s] for s, _ in edge_rows), dtype=np.int64,
                        count=len(edge_rows))
    dst_i = np.fromiter((idx[t] for _, t in edge_rows), dtype=np.int64,
                        count=len(edge_rows))
    deg = np.bincount(src_i, minlength=n)
    deg_f = deg.astype(np.float64)
    no_out = deg == 0
    fpf = float(fp)
    for _ in range(n_iter):
        contrib = rank[src_i] / deg_f[src_i]
        q = _quanta(contrib * fpf)
        acc = np.zeros(n, dtype=np.int64)
        np.add.at(acc, dst_i, q)
        dang = int(_quanta(rank[no_out] * fpf).sum()) if no_out.any() else 0
        dangling = dang / fpf
        in_rank = acc / fpf
        rank = teleport(dangling) + damping * in_rank
    return [(v, float(rank[i])) for v, i in idx.items()]


def _rank_supersteps(edges: DataFrame, frame: DataFrame, ranks: DataFrame,
                     teleport, n_iter: int, damping: float,
                     fp: int) -> DataFrame:
    """The distributed superstep body of :func:`pagerank` and
    :func:`personalized_pagerank`: ``n_iter`` rounds of
    ``rank = teleport + d·Σ rank(in)/out_degree(in)`` from the initial
    (id, rank) ``ranks``. ``frame`` carries every vertex id plus any
    column ``teleport`` reads besides ``dangling`` (the dangling rank mass
    of the round). Both aggregates are fixed-point sums (``_fp_sum``)."""
    out_deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_degree")
    ).transform(materialize)
    # Pre-join edges with out-degree ONCE (degree is iteration-invariant);
    # each iteration then joins only (src → rank), not two joins.
    edges_deg = (
        edges.join(out_deg.withColumnRenamed("id", "src"), on="src")
        .select("src", "dst", "out_degree")
    ).transform(materialize)
    for _ in range(n_iter):
        contrib = (
            edges_deg.join(ranks.withColumnRenamed("id", "src"), on="src")
            .select(
                F.col("dst").alias("id"),
                (F.col("rank") / F.col("out_degree")).alias("contrib"),
            )
            .groupBy("id")
            .agg(_fp_sum(F.col("contrib"), fp).alias("in_rank"))
        )
        # Dangling mass as a broadcast 1-row aggregate INSIDE the plan — no
        # driver collect per iteration (one extra job each round at scale).
        dangling = (
            ranks.join(out_deg, on="id", how="left_anti")
            .agg(F.coalesce(_fp_sum(F.col("rank"), fp),
                            F.lit(0.0)).alias("dangling"))
        )
        ranks = (
            frame.join(contrib, on="id", how="left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "id",
                (
                    teleport
                    + F.lit(damping) * F.coalesce("in_rank", F.lit(0.0))
                ).alias("rank"),
            )
        ).transform(materialize)
    return ranks


def pagerank(edges: DataFrame, n_iter: int = 10, damping: float = 0.85,
             grid: str = "relative", small_cutoff: int = 4096) -> DataFrame:
    """PageRank over (src, dst) edges → (id, rank). Fixed iteration count.

    rank = (1-d)/N + d·Σ rank(in)/out_degree(in); dangling mass redistributed
    uniformly so ranks sum to 1 (matches the textbook formulation).

    Both per-iteration aggregates (incoming contributions, dangling mass)
    are fixed-point bigint partial sums (``_fp_sum``): integer addition
    commutes under partial aggregation, so the result is bit-identical
    across partition counts, execution modes, and engines — the ``hits()``
    hardening applied here (VERDICT r7 "what's wrong" item 1).

    ``grid`` picks the quantization (see ``_resolve_fp``): ``"relative"``
    (the DEFAULT since round 11 — decision pinned in PLANS.md §Round-11)
    quantizes ``rank·|V|`` so per-edge contributions stay representable at
    any |V| — no truncation cliff at any scale, and inside |V| ≤ 1e7 it
    agrees with the absolute grid to 6dp (driver-checked every round by
    ``graph_pagerank_relative`` vs the absolute-grid oracle, multi-JVM
    verified in MULTIEXEC_r10). ``"absolute"`` is the 1e-15 grid the
    registry oracle unrolls (kept as the ``graph_pagerank`` query's pinned
    form for r7-r10 artifact continuity; it silently truncates per-edge
    contributions below 5e-16 — RANKGRID_r10.json measured a 3.4e-9 mass
    leak at 12M vertices); ``"auto"`` switches absolute → relative at the
    1e7 lossless bound (kept for callers who need absolute-grid history
    compatibility with a scale guard).
    """
    vertices = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    ).transform(materialize)
    n = vertices.count()
    fp = _resolve_fp(n, grid)
    base = (1.0 - damping) / n
    if n <= small_cutoff:
        # A graph this small is all per-round job overhead on the
        # distributed path; the gate still bounds the edge count, since a
        # small vertex set can hang off a huge multi-edge list.
        out = _driver_finish(
            edges.select("src", "dst"), small_cutoff, "id {id}, rank double",
            lambda e, v: _driver_rank(
                v, e, np.full(n, 1.0 / n),
                lambda dangling: base + (damping * dangling) / float(n),
                n_iter, damping, fp),
            vertices=vertices)
        if out is not None:
            return out
    return _rank_supersteps(
        edges, vertices, vertices.withColumn("rank", F.lit(1.0 / n)),
        F.lit(base) + F.lit(damping) * F.col("dangling") / F.lit(float(n)),
        n_iter, damping, fp)


def _driver_hits(vert_rows: list, edge_rows: list[tuple],
                 n_iter: int) -> list[tuple]:
    """Bit-exact driver twin of the :func:`hits` loop (hybrid small-graph
    finish): per half-step, int64 sums of ``round(state·1e6)`` quanta over
    the multi-edge list (:func:`_quanta` — state is in [0, 1] so quanta
    stay ≤ 1e6), exact double max-norm, and the 6dp output quantization
    through the ``_round6`` HALF_UP/shortest-repr twin, one call per
    vertex per half-step."""
    n = len(vert_rows)
    idx = {v: i for i, v in enumerate(vert_rows)}
    src_i = np.fromiter((idx[s] for s, _ in edge_rows), dtype=np.int64,
                        count=len(edge_rows))
    dst_i = np.fromiter((idx[t] for _, t in edge_rows), dtype=np.int64,
                        count=len(edge_rows))

    def half_step(state: np.ndarray, from_i: np.ndarray,
                  to_i: np.ndarray) -> np.ndarray:
        acc = np.zeros(n, dtype=np.int64)
        np.add.at(acc, to_i, _quanta(state[from_i] * 1000000.0))
        has = np.zeros(n, dtype=bool)
        has[to_i] = True
        s = acc / 1000000.0
        m = s[has].max()
        out = np.zeros(n, dtype=np.float64)
        for i in np.nonzero(has)[0]:
            out[i] = _round6(s[i] / m)
        # vertices with no inbound term: coalesce(NULL, 0.0) → round6(0.0)
        # == 0.0 exactly, already the fill value
        return out

    hubs = np.full(n, 1.0, dtype=np.float64)
    auths = np.zeros(n, dtype=np.float64)
    for _ in range(n_iter):
        auths = half_step(hubs, src_i, dst_i)
        hubs = half_step(auths, dst_i, src_i)
    return [(v, float(hubs[i]), float(auths[i])) for v, i in idx.items()]


def hits(edges: DataFrame, n_iter: int = 8,
         small_cutoff: int = 4096) -> DataFrame:
    """HITS hubs/authorities (Kleinberg 1999, public algorithm) over
    (src, dst) edges → (id, hub, auth). Fixed iteration count, max-norm
    each half-step (deterministic and SQL-replayable, unlike an L2 norm's
    order-dependent sum-of-squares), state rounded to 6dp per half-step —
    the PageRank treatment applied to the two-score mutual recursion.
    The mass sums are fixed-point bigints (state is 6dp-quantized, so
    ``round(x·1e6)`` is an exact integerization): integer addition commutes
    under partial aggregation, making every half-step bit-reproducible
    across partitionings and engines — the round-5 advice's upgrade from
    order-dependent double sums, same pattern as the k-means centroid
    update and BM25.

    Per iteration: two keyed joins + two hash aggregates (authority from
    current hubs, then hubs from new authorities); the max is a broadcast
    1-row aggregate inside the plan, never a driver collect. Multi-edges
    weight by multiplicity, matching :func:`pagerank`.

    Unlike :func:`pagerank` / :func:`personalized_pagerank`, HITS takes NO
    ``grid`` parameter (the round-10 API symmetry argument is retired,
    VERDICT r10 "what's wrong" #3 — a parameter that validates and then
    does nothing invites the wrong mental model): HITS state is ALREADY
    scale-relative — max-normalization pins the top score at 1.0 each
    half-step, so per-term magnitudes don't shrink with |V| and the 1e-6
    state grid has no |V|-dependent truncation cliff. The one |V| ceiling
    here is sum overflow (|V|·1e6 quanta per aggregate → int64-safe to
    ~9e12 vertices, far past the advertised regime).
    """
    # Materialize the edge table once: each of the 2·n_iter half-step
    # joins otherwise re-evaluates the caller's edge derivation (for the
    # interaction graph, a window over the full events table — 16 corpus
    # scans at n_iter=8). Same treatment the other iteratives give their
    # sym/und/edges_deg tables.
    edges = edges.transform(materialize)
    vertices = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    ).transform(materialize)
    if small_cutoff and 0 < vertices.count() <= small_cutoff:
        out = _driver_finish(
            edges.select("src", "dst"), small_cutoff,
            "id {id}, hub double, auth double",
            lambda e, v: _driver_hits(v, e, n_iter), vertices=vertices)
        if out is not None:
            return out
    hubs = vertices.withColumn("hub", F.lit(1.0))
    auths = None
    for _ in range(n_iter):
        a_raw = (
            edges.join(hubs.withColumnRenamed("id", "src"), on="src")
            .groupBy(F.col("dst").alias("id"))
            .agg((F.sum(F.round(F.col("hub") * 1000000).cast("bigint"))
                  / F.lit(1000000.0)).alias("s"))
        )
        amax = a_raw.agg(F.max("s").alias("m"))
        auths = (
            vertices.join(a_raw, on="id", how="left")
            .crossJoin(F.broadcast(amax))
            .select("id", F.round(
                F.coalesce(F.col("s") / F.col("m"), F.lit(0.0)), 6
            ).alias("auth"))
        ).transform(materialize)
        h_raw = (
            edges.join(auths.withColumnRenamed("id", "dst"), on="dst")
            .groupBy(F.col("src").alias("id"))
            .agg((F.sum(F.round(F.col("auth") * 1000000).cast("bigint"))
                  / F.lit(1000000.0)).alias("s"))
        )
        hmax = h_raw.agg(F.max("s").alias("m"))
        hubs = (
            vertices.join(h_raw, on="id", how="left")
            .crossJoin(F.broadcast(hmax))
            .select("id", F.round(
                F.coalesce(F.col("s") / F.col("m"), F.lit(0.0)), 6
            ).alias("hub"))
        ).transform(materialize)
    return hubs.join(auths, on="id").select("id", "hub", "auth")


def reply_edges(emails: DataFrame) -> DataFrame:
    """G4 input: reply edges from the ``in-reply-to`` header (child → parent).

    The reference stores all headers lowercased in a map
    (``parsing_agent.py:36-39``); ``thread_id`` was declared and never
    populated (``parsing_agent.py:63``).
    """
    return (
        emails.select(
            F.col("message_id").alias("src"),
            F.element_at(F.col("headers"), "in-reply-to").alias("dst"),
        )
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    )


def thread_ids(emails: DataFrame, max_iter: int = 20) -> DataFrame:
    """G4: thread reconstruction = connected components over reply edges.

    Returns (message_id, thread_id) where thread_id is the lexicographic min
    message-id in the thread (stable across runs). Messages with no reply
    relation thread alone.
    """
    cc = connected_components(reply_edges(emails), max_iter=max_iter)
    return (
        emails.select(F.col("message_id").alias("id"))
        .where(F.col("id").isNotNull())
        .join(cc, on="id", how="left")
        .select(
            F.col("id").alias("message_id"),
            F.coalesce("component", F.col("id")).alias("thread_id"),
        )
    )


def _bfs_driver(edge_rows: list[tuple], seeds: list, max_hops: int) -> dict:
    """Level-synchronous BFS over an adjacency dict — the driver twin of the
    iterative frontier joins. Hop distances are canonical (unique), so any
    correct BFS reproduces the distributed result exactly. Returns
    {(source, id): distance} including (s, s): 0."""
    succ: dict = {}
    for s, d in edge_rows:
        succ.setdefault(s, set()).add(d)
    out: dict = {}
    for s in seeds:
        out[(s, s)] = 0
        frontier = {s}
        seen = {s}
        for hop in range(1, max_hops + 1):
            nxt = set()
            for v in frontier:
                for w in succ.get(v, ()):
                    if w not in seen:
                        nxt.add(w)
            if not nxt:
                break
            for w in nxt:
                out[(s, w)] = hop
                seen.add(w)
            frontier = nxt
    return out


def shortest_paths(edges: DataFrame, landmark: str, max_hops: int = 10,
                   directed: bool = False, small_cutoff: int = 4096) -> DataFrame:
    """Unweighted shortest-path distance from ``landmark`` → (id, distance):
    :func:`multi_source_distances` from the one seed.

    Level-synchronous BFS as iterative joins: frontier ⋈ edges → next
    frontier minus visited. Each round is one shuffle join on the vertex id;
    rounds = graph diameter (bounded by ``max_hops``). Unreachable vertices
    are absent from the result (join-semantics, same as the recursive-CTE
    oracle).
    """
    return multi_source_distances(
        edges, [landmark], max_hops=max_hops, directed=directed,
        small_cutoff=small_cutoff).select("id", "distance")


def triangle_count(edges: DataFrame, small_cutoff: int = 4096) -> DataFrame:
    """Global triangle count over an undirected simple graph.

    Canonicalize to a<b (each undirected edge once), then the two-join
    wedge-closing pattern: (a,b)+(b,c) wedges closed by (a,c). Ordering
    a<b<c counts each triangle exactly once. Both joins shuffle on a vertex
    key; degree skew is the known hazard at scale (hot vertices make hot
    join keys) — AQE skew splitting applies, and the canonical ordering
    already halves the work vs naive direction-blind joins.
    """
    e = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .transform(materialize)
    )
    # Hybrid driver finish: both outputs are integer counts
    # (algorithm-free); reuse the per-vertex triangle kernel's
    # adjacency-intersection walk.
    out = _driver_finish(
        e, small_cutoff, "n_edges bigint not null, n_triangles bigint not null",
        lambda rows: [(len(rows), sum(
            t for _, _, t, _ in _driver_local_clustering(rows)) // 3)])
    if out is not None:
        return out
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
    )
    return e.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def _driver_bellman_ford(edge_rows: list[tuple], landmark,
                         max_rounds: int) -> dict:
    """Driver twin of the synchronous Bellman-Ford loop: the SAME
    relaxation (`dist[u] + cost`, one double add per edge — the identical
    left fold along any path) iterated in synchronous rounds to the same
    fixed point; `min` over the same candidate set gives bit-identical
    doubles. Raises on non-convergence exactly like the distributed loop."""
    dist = {landmark: 0.0}
    for _ in range(max_rounds):
        new = dict(dist)
        improved = 0
        for u, v, c in edge_rows:
            du = dist.get(u)
            if du is None:
                continue
            cand = du + c
            cur = new.get(v)
            if cur is None or cand < cur:
                new[v] = cand
        for v, d in new.items():
            old = dist.get(v)
            if old is None or d < old:
                improved += 1
        dist = new
        if improved == 0:
            return dist
    raise RuntimeError(
        f"weighted_distances did not converge within max_rounds="
        f"{max_rounds}; the graph's weighted diameter exceeds the safety "
        f"cap — raise it")


def weighted_distances(edges: DataFrame, landmark: str,
                       weight_col: str = "cost",
                       max_rounds: int = 64,
                       small_cutoff: int = 4096) -> DataFrame:
    """Bellman-Ford relaxation from ``landmark`` → (id, distance), iterated
    to the FIXED POINT (non-negative costs): rounds continue until one full
    relaxation improves no distance. ``max_rounds`` is a safety valve only
    (a graph with diameter > max_rounds raises rather than silently
    returning unconverged answers — at 100× scale a constant round count
    would be wrong-but-plausible).

    Each round relaxes every edge once: dist'[v] = min(dist[v],
    min over (u,v) of dist[u] + cost). One join + one agg per round, keyed on
    the vertex id — the distributed-friendly SSSP (Dijkstra's priority queue
    is inherently sequential; relaxation rounds are how SSSP scales out).
    The convergence probe is an ``observe()`` metric riding the round's own
    materialization job (the old distance travels through the min-aggregate
    as a tagged min — zero extra jobs), the loop every fixpoint operator
    shares (:func:`_fixpoint`); the per-round materialization keeps the
    lineage flat. Unreachable vertices are absent (same as the unrolled SQL
    oracle).
    """
    e = edges.select("src", "dst", F.col(weight_col).cast("double").alias("cost"))
    e = e.transform(materialize)
    if isinstance(e.schema["src"].dataType, StringType):
        # Hybrid driver finish: the SAME synchronous relaxation from the
        # same init is replayed verbatim (identical update function →
        # identical fixed point, doubles included) — see
        # _driver_bellman_ford.
        out = _driver_finish(
            e, small_cutoff, "id string, distance double",
            lambda rows: list(
                _driver_bellman_ford(rows, landmark, max_rounds).items()))
        if out is not None:
            return out

    def step(dist: DataFrame) -> DataFrame:
        relaxed = (
            dist.join(e, dist.id == e.src)
            .select(F.col("dst").alias("id"),
                    (F.col("distance") + F.col("cost")).alias("distance"))
        )
        # The old distance rides the same aggregate as a tagged min, so the
        # improved-count needs no per-round comparison join.
        return (
            dist.withColumn("_src", F.lit(1))
            .unionByName(relaxed.withColumn("_src", F.lit(0)))
            .groupBy("id")
            .agg(
                F.min("distance").alias("distance"),
                F.min(F.when(F.col("_src") == 1, F.col("distance")))
                .alias("_old"),
            )
        )

    dist = e.sparkSession.createDataFrame(
        [(landmark, 0.0)], "id string, distance double"
    ).transform(materialize)
    return _fixpoint(
        dist, step,
        F.col("_old").isNull() | (F.col("distance") < F.col("_old")),
        max_rounds, "weighted_distances",
        "the graph's weighted diameter exceeds the max_rounds safety cap; "
        "raise it")


def _driver_lpa(edge_rows: list[tuple], n_iter: int) -> list[tuple]:
    """Driver twin of synchronized LPA: per round every vertex adopts its
    neighbors' most frequent label, ties → min label — pure counting over
    integer/string labels (min_by over (-freq, label) replayed as a Python
    tuple min), so the replay is exact with no floating point anywhere."""
    nbrs: dict = {}
    for a, b in edge_rows:
        nbrs.setdefault(a, []).append(b)
    label = {v: v for v in nbrs}
    for _ in range(n_iter):
        new = {}
        for v, ns in nbrs.items():
            freq: dict = {}
            for w in ns:
                lw = label[w]
                freq[lw] = freq.get(lw, 0) + 1
            new[v] = min(freq.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        label = new
    return list(label.items())


def label_propagation_communities(edges: DataFrame, n_iter: int = 5,
                                  small_cutoff: int = 8192) -> DataFrame:
    """Community detection via synchronized label propagation → (id, community).

    Each round every vertex adopts its neighbors' most frequent label
    (ties → min label; isolated behavior deterministic). Fixed iteration
    count, deterministic tie-break — reproducible output, unlike async LPA.
    Each round: one join + two aggregations, all keyed on vertex id.
    CC finds *connected* structure; LPA finds *dense* structure inside it —
    two cliques bridged by one edge stay two communities.
    """
    sym = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
    ).transform(materialize)
    # Hybrid driver finish: the synchronized rounds + deterministic
    # tie-break replay exactly in plain counting (no FP).
    out = _driver_finish(sym, small_cutoff, "id {id}, community {id}",
                         lambda rows: _driver_lpa(rows, n_iter))
    if out is not None:
        return out
    labels = (
        sym.select(F.col("a").alias("id")).distinct()
        .withColumn("community", F.col("id"))
    ).transform(materialize)

    for _ in range(n_iter):
        counts = (
            sym.join(labels.withColumnRenamed("id", "b"), on="b")
            .groupBy(F.col("a").alias("id"), F.col("community"))
            .agg(F.count(F.lit(1)).alias("freq"))
        )
        # most frequent neighbor label, ties broken by min label: max on
        # (freq, reversed-label) via min_by over (-freq, label)
        best = counts.groupBy("id").agg(
            F.min_by(
                F.col("community"),
                F.struct((-F.col("freq")).alias("nf"), F.col("community")),
            ).alias("community")
        )
        labels = (
            labels.select("id")
            .join(best, on="id", how="left")
            .select("id", F.coalesce("community", F.col("id")).alias("community"))
        ).transform(materialize)
    return labels


def export_graph_json(edges: DataFrame, out_dir: str,
                      weight_col: str | None = "weight") -> None:
    """G6: materialize the graph as Cytoscape/D3-consumable JSON datasets —
    ``<out_dir>/nodes`` (`{"data": {"id"}}`) and ``<out_dir>/edges``
    (`{"data": {"source","target",...}}`), written distributed (one JSON
    object per line per part file, the layout front-ends bulk-load)."""
    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .select(F.struct(F.col("id")).alias("data"))
    )
    edata = [F.col("src").alias("source"), F.col("dst").alias("target")]
    if weight_col and weight_col in edges.columns:
        edata.append(F.col(weight_col))
    edge_rows = edges.select(F.struct(*edata).alias("data"))
    nodes.write.mode("overwrite").json(f"{out_dir}/nodes")
    edge_rows.write.mode("overwrite").json(f"{out_dir}/edges")


def sequential_interaction_edges(events: DataFrame) -> DataFrame:
    """Driver-testdata analog of G3: pair each event's user with the next
    user inside the same event_type stream (lag/lead windowing). Gives a
    deterministic synthetic communication graph over ``events``."""
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    return (
        events.select(
            "event_type",
            F.col("user_id").alias("src"),
            F.lead("user_id").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
    )


def personalized_pagerank(edges: DataFrame, sources: DataFrame,
                          n_iter: int = 10,
                          damping: float = 0.85,
                          grid: str = "relative",
                          small_cutoff: int = 4096) -> DataFrame:
    """Personalized PageRank: teleport (and dangling) mass flows to the
    ``sources`` vertex set instead of uniformly — the "similarity to these
    seeds" ranking used for recommendations and seed-expansion retrieval.

    Same plan shape as :func:`pagerank` (degree pre-join, per-iteration
    contribution aggregate, dangling mass as a broadcast 1-row aggregate,
    materialization per round to cut lineage); the only delta is the
    per-vertex ``reset`` column replacing the uniform 1/N terms. ``grid``
    follows :func:`pagerank` (total rank mass is ≤ 1 here too, so the same
    absolute/relative fixed-point budgets apply); default ``relative``
    since round 11 (PLANS.md §Round-11).
    """
    vertices = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    ).transform(materialize)
    # Count vertices only when the count is consumed — by the relative-grid
    # factor or by the driver-finish gate.
    n_v = (vertices.count() if small_cutoff or grid != "absolute" else None)
    fp = _resolve_fp(n_v, grid)
    src_ids = vertices.join(sources.select("id").distinct(), on="id",
                            how="left_semi").transform(materialize)
    n_s = src_ids.count()
    if n_s == 0:
        raise ValueError("no source vertex appears in the edge set")
    if small_cutoff and 0 < n_v <= small_cutoff:
        # The source-set pull is bounded by the vertex cutoff
        # (src_ids ⊆ vertices).
        def kernel(edge_rows: list[tuple], vert_rows: list) -> list[tuple]:
            src_set = {r["id"] for r in src_ids.collect()}
            reset = np.fromiter(
                ((1.0 / n_s) if v in src_set else 0.0 for v in vert_rows),
                dtype=np.float64, count=len(vert_rows))
            return _driver_rank(
                vert_rows, edge_rows, reset,
                lambda dangling: ((1.0 - damping) * reset
                                  + (damping * dangling) * reset),
                n_iter, damping, fp)

        out = _driver_finish(edges.select("src", "dst"), small_cutoff,
                             "id {id}, rank double", kernel,
                             vertices=vertices)
        if out is not None:
            return out
    base = (
        vertices.join(src_ids.withColumn("reset", F.lit(1.0 / n_s)),
                      on="id", how="left")
        .select("id", F.coalesce("reset", F.lit(0.0)).alias("reset"))
    ).transform(materialize)
    return _rank_supersteps(
        edges, base, base.select("id", F.col("reset").alias("rank")),
        F.lit(1.0 - damping) * F.col("reset")
        + F.lit(damping) * F.col("dangling") * F.col("reset"),
        n_iter, damping, fp)


def link_prediction(edges: DataFrame, min_common: int = 2,
                    per_source_k: int | None = None) -> DataFrame:
    """Common-neighbors / Adamic-Adar link prediction for NON-adjacent pairs.

    Undirected neighbor lists from the (possibly directed) edge set; a
    candidate pair is two vertices sharing ≥ ``min_common`` neighbors that
    are not themselves connected. Adamic-Adar down-weights hub witnesses by
    1/ln(degree). Shape: one self-equi-join on the shared-neighbor column
    (the same inverted-index discipline as the shingle joins — quadratic
    work is per-witness, bounded by max degree, never all-pairs), then an
    anti-join against the edge set.

    ``per_source_k`` bounds the RESULT shape the way link prediction is
    actually consumed — "top suggestions per vertex": keep only the k best
    candidates per pair-anchor ``a`` (highest Adamic-Adar, ties broken by
    common-neighbor count then partner id — fully deterministic since ``b``
    is unique within an ``a`` group). The window is a rank-k filter, so
    Spark plans it as WindowGroupLimit (per-partition partial top-k before
    the shuffle) and the output is O(|V|·k) instead of O(candidate pairs) —
    at sf1 the unbounded result was ~all candidate pairs and dominated wall
    time (VERDICT r8 item 4). ``None`` keeps the full candidate set (the
    exact-baseline/oracle shape).

    North-star graph addition — the reference's graph layer is declared but
    empty (README.md:86-88).
    """
    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    nbr_count = sym.groupBy(F.col("src").alias("w")) \
        .agg(F.count(F.lit(1)).alias("w_degree"))
    # witness w links a and b: (a,w) and (b,w) both undirected edges
    a = sym.select(F.col("dst").alias("w"), F.col("src").alias("a"))
    b = sym.select(F.col("dst").alias("w"), F.col("src").alias("b"))
    pairs = (
        a.join(b, on="w")
        .where(F.col("a") < F.col("b"))
        .join(nbr_count, on="w")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common_neighbors"),
            # Fixed-point bigint partials (hits-style): each 1/ln(degree)
            # witness term quantizes to a 1e-9 grid before summation, so the
            # score — and therefore the SET of rows surviving a rank-k cut —
            # is order-independent across partitionings and engines (terms
            # ≤ 1/ln2 ≈ 1.44 → ≤ 1.45e9 quanta; int64-safe to ~6.3e9
            # witnesses per pair). The oracle mirrors the same grid.
            F.round(
                F.sum(F.round((1.0 / F.log("w_degree"))
                              * F.lit(1_000_000_000.0)).cast("bigint"))
                / F.lit(1_000_000_000.0), 6
            ).alias("adamic_adar"),
        )
        .where(F.col("common_neighbors") >= min_common)
    )
    out = pairs.join(
        sym.select(F.col("src").alias("a"), F.col("dst").alias("b")),
        on=["a", "b"],
        how="left_anti",
    )
    if per_source_k is None:
        return out
    w = Window.partitionBy("a").orderBy(
        F.col("adamic_adar").desc(), F.col("common_neighbors").desc(),
        F.col("b").asc())
    return (out.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= per_source_k)
            .drop("_rn"))


def _driver_k_core(edge_rows: list[tuple], k: int) -> list[tuple]:
    """Driver twin of the k-core peel: the k-core is the UNIQUE maximal
    subgraph with induced degree ≥ k (peeling order is irrelevant), so any
    correct sequential peel reproduces the distributed fixed point.
    ``edge_rows`` is the deduplicated symmetric edge list; returns
    (id, induced_degree ≥ k) rows."""
    adj: dict = {}
    for s, d in edge_rows:
        adj.setdefault(s, set()).add(d)
    queue = [v for v, nb in adj.items() if len(nb) < k]
    while queue:
        v = queue.pop()
        for w in adj.pop(v, ()):  # drop v and its incidences
            nb = adj.get(w)
            if nb is not None:
                nb.discard(v)
                if len(nb) == k - 1:  # just fell below k — peel next
                    queue.append(w)
    return [(v, len(nb)) for v, nb in adj.items() if len(nb) >= k]


def k_core(edges: DataFrame, k: int = 3, max_rounds: int = 256,
           small_cutoff: int = 16384) -> DataFrame:
    """k-core membership by peeling to the FIXED POINT: repeatedly drop
    vertices with induced degree < k until a full round drops nothing.
    ``max_rounds`` is a safety valve only (a peeling sequence deeper than
    the cap raises instead of returning a superset of the core — the
    pre-convergence-check version stopped after 8 constant rounds, which at
    100× scale silently kept sub-core vertices). Returns (id, degree) for
    surviving vertices with their induced degree.

    Each round is one degree aggregate + two semi-joins on the vertex id —
    the same keyed-join discipline as every iterative op here;
    per-round materialization cuts the lineage. Convergence is detected
    by the surviving directed-edge count (peeling is monotone — an unchanged
    count IS the fixed point), a 1-row driver read per round.
    """
    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    ).transform(materialize)
    # Hybrid driver finish: the k-core is unique (peel-order-free), the
    # CC canonicality argument; the wider CC-style bound applies (the
    # peel is near-linear).
    out = _driver_finish(sym, small_cutoff, "id {id}, degree bigint",
                         lambda rows: _driver_k_core(rows, k))
    if out is not None:
        return out
    alive = sym
    n_prev = alive.count()
    for _ in range(max_rounds):
        if n_prev == 0:
            break
        deg = alive.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("degree")
        )
        keep = deg.where(F.col("degree") >= k).select("id")
        alive = (
            alive.join(keep.withColumnRenamed("id", "src"), on="src",
                       how="left_semi")
            .join(keep.withColumnRenamed("id", "dst"), on="dst",
                  how="left_semi")
        ).transform(materialize)
        n_new = alive.count()
        # n_new == 0 is itself a provable fixed point (nothing left to peel)
        # — break NOW, or a drain on the final permitted round would fall
        # through to the spurious did-not-converge raise below.
        if n_new == n_prev or n_new == 0:
            break
        n_prev = n_new
    else:
        raise RuntimeError(
            f"k_core did not converge within max_rounds={max_rounds}; "
            f"the peeling depth exceeds the safety cap — raise it"
        )
    return (
        alive.groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        .where(F.col("degree") >= k)
    )


def _driver_local_clustering(edge_rows: list[tuple]) -> list[tuple]:
    """Driver twin of :func:`local_clustering` over the canonical (a<b,
    deduplicated) edge list: triangle counts are integers (algorithm-free),
    and the coefficient replays the exact Spark expression —
    ``round6((2.0·T)/(deg·(deg−1)))`` on IEEE doubles (T and the degree
    product convert long→double exactly below 2^53)."""
    adj: dict = {}
    for a, b in edge_rows:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = {v: 0 for v in adj}
    for a, b in edge_rows:
        # count each triangle once at its (a,b) edge via the c > b corner
        small, large = (adj[a], adj[b])
        if len(small) > len(large):
            small, large = large, small
        for c in small:
            if c > b and c in large:
                tri[a] += 1
                tri[b] += 1
                tri[c] += 1
    out = []
    for v in adj:
        deg = len(adj[v])
        t = tri[v]
        lcc = (2.0 * t) / float(deg * (deg - 1)) if deg >= 2 else 0.0
        out.append((v, deg, t, _round6(lcc)))
    return out


def local_clustering(edges: DataFrame,
                     small_cutoff: int = 4096) -> DataFrame:
    """Per-vertex local clustering coefficient: 2·T(v) / (deg(v)·(deg(v)−1)).

    ``small_cutoff`` is the hybrid driver finish (the SCC/CC treatment):
    when the canonical edge set fits ≤ 32·cutoff rows, it is pulled to the
    driver and the triangles are counted sequentially — the wedge-closing
    3-way self-join is pure job overhead at that size. ``small_cutoff=0``
    forces the distributed path (the 100 TB shape).

    Canonicalize to a<b, enumerate triangles once via the wedge-closing
    two-join (same discipline as :func:`triangle_count`), then credit each
    triangle to its three corners with one explode — T(v) arrives from a
    single hash aggregate, never a per-vertex neighborhood intersection.
    Degrees come from the undirected incidence list. Both shuffles key on a
    vertex id; degree skew is the hazard at scale and AQE skew splitting is
    the mitigation (hot vertices are exactly the high-degree ones).
    """
    e = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .transform(materialize)
    )
    out = _driver_finish(
        e, small_cutoff,
        "id {id}, degree bigint, triangles bigint, clustering double",
        _driver_local_clustering)
    if out is not None:
        return out
    deg = (
        e.select(F.col("a").alias("id"))
        .unionAll(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
        .select(F.col("e1.a").alias("x"), F.col("e1.b").alias("y"),
                F.col("e2.b").alias("z"))
    )
    tnode = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    lcc = F.when(
        F.col("degree") >= 2,
        F.lit(2.0) * F.col("triangles") / (F.col("degree") * (F.col("degree") - 1)),
    ).otherwise(F.lit(0.0))
    return (
        deg.join(tnode, "id", "left")
        .withColumn("triangles", F.coalesce("triangles", F.lit(0)))
        .withColumn("clustering", F.round(lcc, 6))
    )


def multi_source_distances(edges: DataFrame, sources: list[str],
                           max_hops: int = 6,
                           directed: bool = False,
                           small_cutoff: int = 4096) -> DataFrame:
    """Level-synchronous BFS from ``k`` seed vertices at once →
    (source, id, distance) — :func:`shortest_paths` generalized to carry
    the source id through the frontier, so one iterative plan serves all
    seeds (k× the frontier state, NOT k separate BFS jobs). Each hop is one
    join shuffled on the vertex id plus an anti-join against the visited
    set; rounds = min(diameter, ``max_hops``). The per-round
    per-round materialization keeps lineage flat, same contract as the other
    iterative graph operators."""
    e = edges.select("src", "dst")
    if not directed:
        e = e.union(edges.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst")))
    e = e.where(F.col("src") != F.col("dst")).distinct() \
        .transform(materialize)
    if isinstance(e.schema["src"].dataType, StringType):
        # Hybrid driver finish (canonical hop distances — the CC
        # argument). The string-dtype gate keeps the driver path off
        # exotic caller dtypes so the emitted schema always matches the
        # distributed one (the seed frame pins id to string).
        def kernel(edge_rows: list[tuple]) -> list[tuple]:
            dist = _bfs_driver(edge_rows, list(dict.fromkeys(sources)),
                               max_hops)
            # seed rows once per ORIGINAL sources entry (the distributed
            # seed frame does not dedup), hop>0 rows from the BFS map
            return [(s, s, 0) for s in sources] + [
                (s, v, d) for (s, v), d in dist.items() if d > 0]

        out = _driver_finish(e, small_cutoff,
                             "source string, id string, distance int", kernel)
        if out is not None:
            return out
    visited = e.sparkSession.createDataFrame(
        [(s, s, 0) for s in sources], "source string, id string, distance int"
    ).transform(materialize)
    frontier = visited
    for hop in range(1, max_hops + 1):
        nxt, n_obs = _materialize_counted(
            frontier.join(e, frontier.id == e.src)
            .select("source", F.col("dst").alias("id"))
            .distinct()
            .join(visited, on=["source", "id"], how="left_anti")
            .withColumn("distance", F.lit(hop))
        )
        if n_obs.get["n"] == 0:
            break
        visited = visited.unionByName(nxt).transform(materialize)
        frontier = nxt
    return visited


def harmonic_centrality(edges: DataFrame, sources: list[str],
                        max_hops: int = 6) -> DataFrame:
    """Sampled harmonic centrality (Boldi & Vigna 2014; landmark sampling
    per Eppstein & Wang 2001 — public methods): every vertex's
    Σ 1/d(s, v) over the k seed vertices that reach it (self-distances
    excluded) → (id, n_sources, sum_dist, harmonic). Harmonic handles
    disconnected pairs natively (they just contribute nothing), which is
    why it replaces classic closeness at corpus scale. The 1/d terms are
    round-to-1e-6 fixed-point bigints summed before ONE division, so no
    float-summation order can flip the hash; n_sources/sum_dist are plain
    integer aggregates. Cost: one multi-source BFS (k× frontier state) +
    one hash aggregate keyed on the vertex."""
    d = multi_source_distances(edges, sources, max_hops=max_hops)
    fp = F.round(F.lit(1000000.0) / F.col("distance")).cast("bigint")
    return (
        d.where(F.col("distance") > 0)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_sources"),
            F.sum("distance").cast("bigint").alias("sum_dist"),
            F.round(F.sum(fp) / F.lit(1000000.0), 6).alias("harmonic"),
        )
    )


def _driver_textrank(edge_rows: list[tuple], n_iter: int,
                     damping: float) -> list[tuple]:
    """Bit-exact driver twin of the :func:`weighted_textrank` loop for
    INTEGER edge weights (the callers' shape — co-occurrence counts): the
    out-strength sum is exact integer arithmetic, the per-edge quanta
    replay ``round(((score·w)/outw)·1e6)`` through :func:`_quanta`, and
    the 6dp state
    quantization goes through the ``_round6`` twin."""
    verts = list(dict.fromkeys(s for s, _, _ in edge_rows))
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    src_i = np.fromiter((idx[s] for s, _, _ in edge_rows), dtype=np.int64,
                        count=len(edge_rows))
    dst_i = np.fromiter((idx[t] for _, t, _ in edge_rows), dtype=np.int64,
                        count=len(edge_rows))
    w = np.fromiter((float(w_) for _, _, w_ in edge_rows), dtype=np.float64,
                    count=len(edge_rows))
    outw_int: dict = {}
    for s, _, w_ in edge_rows:
        outw_int[s] = outw_int.get(s, 0) + w_
    outw = np.fromiter((float(outw_int[v]) for v in verts),
                       dtype=np.float64, count=n)
    base = 1 - damping
    score = np.full(n, 1.0, dtype=np.float64)
    for _ in range(n_iter):
        q = _quanta(((score[src_i] * w) / outw[src_i]) * 1000000.0)
        acc = np.zeros(n, dtype=np.int64)
        np.add.at(acc, dst_i, q)
        s = acc / 1000000.0
        score = np.fromiter(
            (_round6(base + damping * s[i]) for i in range(n)),
            dtype=np.float64, count=n)
    return [(v, float(score[idx[v]])) for v in verts]


def weighted_textrank(edges: DataFrame, n_iter: int = 8,
                      damping: float = 0.85,
                      small_cutoff: int = 4096) -> DataFrame:
    """Weighted TextRank scores (Mihalcea & Tarau 2004, public method) over
    symmetric weighted edges (src, dst, weight) → (id, score). The TextRank
    recurrence — note the UN-normalized (1-d) constant, unlike PageRank's
    (1-d)/N:

        WS(i) = (1-d) + d · Σ_{j→i} w_ji / Σ_k w_jk · WS(j)

    Fixed iteration count; per round ONE keyed join (edge weight/out-strength
    are pre-joined, iteration-invariant) + one hash aggregate. Contribution
    sums are fixed-point bigints over 6dp-quantized state (the HITS/k-means
    treatment), so every round is bit-reproducible across partitionings and
    engines; constants enter both engines via ``repr`` so the doubles are
    identical. Callers pass symmetric edges for the undirected TextRank
    semantics (every vertex then has out-strength > 0 — no dangling term)."""
    if small_cutoff and isinstance(edges.schema["weight"].dataType,
                                   IntegralType):
        # Hybrid driver finish — integer weights make the out-strength sum
        # exact, so the fixed-point replay is bit-identical (see
        # _driver_textrank). Double-weighted callers keep the distributed
        # path (its partial double sums are its own contract).
        edges = edges.select("src", "dst", "weight").transform(materialize)
        out = _driver_finish(edges, small_cutoff, "id {id}, score double",
                             lambda rows: _driver_textrank(rows, n_iter,
                                                           damping))
        if out is not None:
            return out
    vertices = edges.select(F.col("src").alias("id")).distinct() \
        .transform(materialize)
    outw = edges.groupBy("src").agg(F.sum("weight").alias("outw"))
    ew = edges.join(outw, on="src") \
        .select("src", "dst", "weight", "outw").transform(materialize)
    scores = vertices.withColumn("score", F.lit(1.0))
    for _ in range(n_iter):
        contrib = (
            ew.join(scores.withColumnRenamed("id", "src"), on="src")
            .groupBy(F.col("dst").alias("id"))
            .agg((F.sum(F.round(F.col("score") * F.col("weight")
                                / F.col("outw") * 1000000).cast("bigint"))
                  / F.lit(1000000.0)).alias("s"))
        )
        scores = (
            vertices.join(contrib, on="id", how="left")
            .select("id", F.round(
                F.lit(1 - damping)
                + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0)), 6
            ).alias("score"))
        ).transform(materialize)
    return scores


def _driver_betweenness(edge_rows: list[tuple], sources: list,
                        max_hops: int) -> list[tuple]:
    """Driver twin of :func:`betweenness_sampled`: per-source BFS with
    exact integer σ path counts (canonical), then Brandes' depth-by-depth
    dependency accumulation replaying the exact quantization —
    per-successor quanta ``round(((σv/σw)·(1+δw))·1e6)``
    (:func:`_quanta`), 6dp ``_round6`` per level, and the final per-vertex
    fixed-point sum. Depth-(≥1) rows only feed the final sum, exactly like
    the distributed ``acc`` union."""
    succ: dict = {}
    for s, d in edge_rows:
        succ.setdefault(s, []).append(d)
    info: dict = {}  # (source, v) -> (dist, sigma)
    depths = 0
    for src in dict.fromkeys(sources):
        info[(src, src)] = (0, 1)
        frontier = {src: 1}
        seen = {src}
        for hop in range(1, max_hops + 1):
            nxt: dict = {}
            for v, sig in frontier.items():
                for w in succ.get(v, ()):
                    if w not in seen:
                        nxt[w] = nxt.get(w, 0) + sig
            if not nxt:
                break
            for w, sig in nxt.items():
                info[(src, w)] = (hop, sig)
                seen.add(w)
            frontier = nxt
            depths = max(depths, hop)
    if depths == 0:
        return []

    delta: dict = {}  # (source, v) at the CURRENT deeper level -> δ
    acc_q: dict = {}  # v -> Σ round(δ·1e6) over depth ≥ 1 rows
    dl = {(sv, v): 0.0 for (sv, v), (d, _) in info.items() if d == depths}
    for d in range(depths, 0, -1):
        for (sv, v), dv in dl.items():
            acc_q[v] = acc_q.get(v, 0) + int(_quanta(dv * 1000000.0))
        nxt_dl = {}
        for (sv, v), (dist_v, sig_v) in info.items():
            if dist_v != d - 1:
                continue
            q = 0
            hit = False
            for w in succ.get(v, ()):
                key = (sv, w)
                if key in dl:
                    hit = True
                    sig_w = info[key][1]
                    q += int(_quanta(((sig_v / sig_w) * (1.0 + dl[key]))
                                     * 1000000.0))
            nxt_dl[(sv, v)] = _round6(q / 1000000.0) if hit else 0.0
        dl = nxt_dl
    return [(v, _round6(s / 1000000.0)) for v, s in acc_q.items()]


def betweenness_sampled(edges: DataFrame, sources: list[str],
                        max_hops: int = 4,
                        small_cutoff: int = 4096) -> DataFrame:
    """Sampled, hop-bounded betweenness centrality (Brandes 2001; source
    sampling per Brandes & Pich 2007; k-bounded variant — all public
    methods) over DIRECTED (src, dst) edges → (id, betweenness): each
    vertex's summed shortest-path dependency δ_s(v) over the k seed
    sources, counting only shortest paths of ≤ ``max_hops`` edges.

    Forward: one level-synchronous multi-source BFS carrying exact path
    counts — per hop, ONE keyed join + hash aggregate (σ sums are exact
    bigints; in an unweighted level-BFS every shortest path to a depth-h
    vertex extends a depth-(h-1) vertex, so σ accumulates within the hop's
    aggregate) + an anti-join against the visited set. Backward: Brandes'
    dependency accumulation runs depth-by-depth — successors of a depth-d
    vertex sit exactly at depth d+1, so each level is ONE join against the
    deeper level's deltas plus a hash aggregate, no accumulation
    conflicts:

        δ(v) = Σ_{w: succ}  σ_v / σ_w · (1 + δ(w))

    Determinism: σ are integers; δ contributions are 1e-6 fixed-point
    bigint sums over 6dp-quantized deltas (the HITS/TextRank treatment),
    so both phases replay bit-exact in the unrolled CTE oracle. Cost:
    ≤ 2·max_hops joins total for ALL sources (k× frontier state, not k
    jobs), every shuffle keyed on the vertex id."""
    spark = edges.sparkSession
    e = (edges.select("src", "dst").where(F.col("src") != F.col("dst"))
         .distinct().transform(materialize))
    if isinstance(e.schema["src"].dataType, StringType):
        # Hybrid driver finish — exact σ counts + quantized Brandes
        # accumulation replayed verbatim (:func:`_driver_betweenness`).
        out = _driver_finish(
            e, small_cutoff, "id string, betweenness double",
            lambda rows: _driver_betweenness(rows, sources, max_hops))
        if out is not None:
            return out
    visited = spark.createDataFrame(
        [(s, s, 0, 1) for s in sources],
        "source string, id string, dist int, sigma bigint",
    ).transform(materialize)
    frontier = visited
    depths = 0
    for hop in range(1, max_hops + 1):
        nxt, n_obs = _materialize_counted(
            frontier.join(e, frontier.id == e.src)
            .groupBy("source", F.col("dst").alias("id"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(visited, on=["source", "id"], how="left_anti")
            .withColumn("dist", F.lit(hop))
            .select("source", "id", "dist", "sigma")
        )
        if n_obs.get["n"] == 0:
            break
        visited = visited.unionByName(nxt).transform(materialize)
        frontier = nxt
        depths = hop

    empty = visited.where(F.lit(False)).select(
        "id", F.lit(0.0).alias("betweenness"))
    if depths == 0:
        return empty

    dl = (visited.where(F.col("dist") == depths)
          .select("source", "id", "sigma", F.lit(0.0).alias("delta")))
    acc = None
    for d in range(depths, 0, -1):
        acc = dl if acc is None else acc.unionByName(dl)
        level = visited.where(F.col("dist") == d - 1)
        lv = level.select("source", F.col("id").alias("vid"),
                          F.col("sigma").alias("sv")) \
            .join(e, F.col("vid") == e.src)
        dw = dl.select(F.col("source").alias("w_source"),
                       F.col("id").alias("wid"),
                       F.col("sigma").alias("sw"), "delta")
        # equi-join on BOTH (source, successor) keys — joining on source
        # alone and filtering wid==dst afterwards would build a per-source
        # (candidate-edges × deeper-level) intermediate first
        contrib = (
            lv.join(dw, (F.col("source") == F.col("w_source"))
                    & (F.col("dst") == F.col("wid")))
            .groupBy("source", "vid")
            .agg((F.sum(F.round(F.col("sv") / F.col("sw")
                                * (F.lit(1.0) + F.col("delta"))
                                * 1000000).cast("bigint"))
                  / F.lit(1000000.0)).alias("s"))
        )
        dl = (
            level.join(contrib.withColumnRenamed("vid", "id"),
                       on=["source", "id"], how="left")
            .select("source", "id", "sigma",
                    F.round(F.coalesce(F.col("s"), F.lit(0.0)), 6)
                    .alias("delta"))
        ).transform(materialize)
    return (
        acc.groupBy("id")
        .agg(F.round(
            F.sum(F.round(F.col("delta") * 1000000).cast("bigint"))
            / F.lit(1000000.0), 6).alias("betweenness"))
    )


def _driver_ktruss(edge_rows: list[tuple], k: int,
                   n_rounds: int) -> list[tuple]:
    """Driver twin of the fixed-round k-truss prune: per round, support of
    each surviving edge (a, b) = |N(a) ∩ N(b)| over the surviving
    undirected graph (pure set intersection — exactly what the two keyed
    joins count), drop edges with support < k-2, repeat for EXACTLY
    ``n_rounds`` (the round count is the contract, as in the distributed
    form), then report final supports."""
    def supports(es: list[tuple]) -> dict:
        adj: dict = {}
        for a, b in es:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        return {(a, b): len(adj[a] & adj[b]) for a, b in es}

    e = list(edge_rows)
    min_sup = k - 2
    for _ in range(n_rounds):
        sup = supports(e)
        e = [ab for ab in e if sup[ab] >= min_sup]
    sup = supports(e)
    return [(a, b, sup[(a, b)]) for a, b in e]


def _truss_support(e: DataFrame) -> DataFrame:
    """Per-edge triangle support over the canonical (a < b) edge set →
    (a, b, support): common neighbors via TWO keyed equi-joins
    (edge→(a,c) then (b,c) membership — the triangle-count join shape,
    never a neighborhood cross product) + one hash aggregate. Edges in no
    triangle are absent."""
    adj = e.select(F.col("a").alias("u"), F.col("b").alias("v")) \
        .unionByName(e.select(F.col("b").alias("u"), F.col("a").alias("v")))
    cand = (e.join(adj.withColumnRenamed("u", "a")
                   .withColumnRenamed("v", "c"), on="a")
            .where(F.col("c") != F.col("b")))
    return (cand.join(adj.select(F.col("u").alias("b"),
                                 F.col("v").alias("c")), on=["b", "c"])
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("support")))


def ktruss_edges(edges: DataFrame, k: int = 4,
                 n_rounds: int = 3, small_cutoff: int = 4096) -> DataFrame:
    """Fixed-round k-truss pruning (Cohen 2008, public method) over the
    undirected graph → the surviving edges (a < b) with their final
    triangle support. An edge is in the k-truss iff it participates in at
    least k-2 triangles among surviving edges; each round recomputes
    per-edge support and drops light edges, tightening toward the truss.
    Like PageRank/LPA, the ROUND COUNT is the contract (the oracle replays
    the same rounds) — on shallow fixture graphs 3 rounds reach the
    fixpoint (pinned in tests/test_graph_ktruss.py); production tunes
    ``n_rounds`` up or loops to fixpoint.

    Per round: adjacency = edge set ∪ its reverse; support(a,b) counts
    common neighbors via TWO keyed equi-joins (edge→(a,c) then (b,c)
    membership — the triangle-count join shape, never a neighborhood
    cross product) + one hash aggregate. Degree skew → AQE skew split,
    same lever as the triangle counter."""
    und = (edges.select(F.least("src", "dst").alias("a"),
                        F.greatest("src", "dst").alias("b"))
           .where(F.col("a") != F.col("b"))
           .distinct().transform(materialize))
    # Hybrid driver finish: support counts are integers and the prune
    # replays the same fixed rounds — no arithmetic to twin.
    out = _driver_finish(und, small_cutoff, "a {id}, b {id}, support bigint",
                         lambda rows: _driver_ktruss(rows, k, n_rounds))
    if out is not None:
        return out
    e = und
    min_sup = k - 2
    for _ in range(n_rounds):
        e = (e.join(_truss_support(e), on=["a", "b"], how="left")
             .where(F.coalesce("support", F.lit(0)) >= min_sup)
             .select("a", "b")).transform(materialize)
    # final support over the surviving subgraph, reported with the edges
    return e.join(_truss_support(e), on=["a", "b"], how="left").select(
        "a", "b", F.coalesce("support", F.lit(0).cast("bigint"))
        .alias("support"))

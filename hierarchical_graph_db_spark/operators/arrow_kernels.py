"""Vectorized Arrow/numpy nearest-centroid kernel: the one corpus-side
path of k-means assignment, seeding pass B, sharded (PQ / per-shard
SemDeDup) assignment and IVF list assignment.

A Catalyst higher-order fold over literal centroid arrays
(``operators/clustering._sq_dist``, still used for the small query-side
IVF probe ranking and PQ encoding) is declarative and zero-exchange, but
Spark HOFs don't participate in whole-stage codegen, so its per-row cost
is interpreted expression eval. ``PLANS.md`` (round-6 bench notes) names
the flip for cluster scale: an Arrow-batched numpy kernel **plus an exact
rescore**, so every result stays bit-identical to the fold and to the SQL
oracle's replay.

Exact-parity discipline (why this is a rescore, not an approximation):

* the fold ``acc = acc + (x-y)*(x-y)`` is a *sequential left-to-right*
  double sum. ``np.cumsum`` along the dim axis performs the same IEEE-754
  additions in the same order, so its last column is **bit-identical** to
  the Spark fold — no gemm / pairwise-summation shortcut is taken, because
  those reorder the adds and can flip the 6dp rounding at boundaries;
* the oracle compares centroids on ``round(d, 6)`` (ties → smallest
  centroid id). Rounding is monotone, so the exact-distance argmin can only
  disagree with the rounded argmin when two exact distances lie within
  1e-6 of each other. The kernel therefore short-lists candidates within a
  2e-6 margin of the exact minimum and resolves ONLY those through the
  slow driver-grade rounding twin (``clustering._round6`` — BigDecimal
  HALF_UP over the shortest decimal repr, exactly Spark's ``round``);
  single-candidate rows (the overwhelming majority) never touch Python
  scalar code;
* reported distances (k-means emits ``dist``) go through the same
  ``_round6`` twin, one call per output row.

The kernel runs as a **scalar Pandas UDF** (Arrow batches, no row-set
rewrite): every other column of the frame stays JVM-side, so the kernel
composes with the existing plans — `assign_lists` keeps its pushed-down
scan and `l2_norm` projection, k-means keeps its fixed-point centroid
aggregate. Parity is pinned by ``tests/test_arrow_fastpath.py`` (kernel
ties and the fold) and ``tests/test_quantizer_oracle.py`` (the registry
queries against the DuckDB oracle).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F


def _exact_fold_dists(V: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, k) squared distances, each bit-identical to the sequential
    Spark fold: per centroid, elementwise (V-c)**2 then a left-to-right
    cumulative sum along dim (``np.cumsum`` adds sequentially; the fold's
    0.0 + t0 == t0 exactly)."""
    n, k = V.shape[0], C.shape[0]
    out = np.empty((n, k), dtype=np.float64)
    for j in range(k):
        diff2 = (V - C[j]) ** 2
        out[:, j] = np.cumsum(diff2, axis=1)[:, -1] if V.shape[1] else 0.0
    return out


def nearest_centroid_batch(cents: list[tuple], V: np.ndarray,
                           need_dist: bool) -> tuple[np.ndarray, np.ndarray | None]:
    """Vectorized argmin over ``round(d, 6)`` with ties → smallest centroid
    id — the exact total order of the oracle's ``ORDER BY d, cid``.
    Returns (cid per row, rounded dist per row or
    None)."""
    from hierarchical_graph_db_spark.operators.clustering import _round6

    cids = [cid for cid, _ in cents]
    C = np.asarray([c for _, c in cents], dtype=np.float64)
    n = V.shape[0]
    if n == 0:
        return np.empty(0, dtype=np.int64), (np.empty(0) if need_dist else None)
    D = _exact_fold_dists(V, C)
    dmin = D.min(axis=1)
    # any centroid that could survive the 6dp rounding lies within 1e-6 of
    # the exact min; 2e-6 margin leaves headroom for the repr-vs-binary
    # rounding edge (see module docstring)
    cand = D <= dmin[:, None] + 2e-6
    win = np.argmin(D, axis=1)
    multi = np.where(cand.sum(axis=1) > 1)[0]
    for i in multi:
        best = min((_round6(D[i, j]), cids[j], j)
                   for j in np.nonzero(cand[i])[0])
        win[i] = best[2]
    out_cids = np.asarray(cids)[win]
    if not need_dist:
        return out_cids, None
    dists = np.fromiter((_round6(D[i, win[i]]) for i in range(n)),
                        dtype=np.float64, count=n)
    return out_cids, dists


def _stack(series: pd.Series) -> np.ndarray:
    if len(series) == 0:
        return np.empty((0, 0), dtype=np.float64)
    return np.stack(series.to_numpy()).astype(np.float64, copy=False)


def assign_struct_udf(cents: list[tuple], cid_ddl: str):
    """Scalar Pandas UDF ``vec -> struct<cid, d: double>`` — k-means
    assignment with reported distance (``clustering._assigned_cid_vec``)."""
    def fn(vs: pd.Series) -> pd.DataFrame:
        cid, d = nearest_centroid_batch(cents, _stack(vs), need_dist=True)
        return pd.DataFrame({"cid": cid, "d": d})

    return F.pandas_udf(fn, f"struct<cid: {cid_ddl}, d: double>")


def sharded_assign_udf(state: list[tuple], cid_ddl: str):
    """Scalar Pandas UDF ``(shard, vec) -> struct<cid, d>`` — the per-row
    argmin against the row's OWN shard's centroids
    (``clustering._assign_sharded``). Same total order as
    :func:`nearest_centroid_batch` (rounded distance asc, cid asc), applied
    per shard group within each Arrow batch. Every shard present in the
    input MUST appear in ``state`` (the seeding pass guarantees it — it
    draws candidates from every non-empty shard); a miss raises loudly
    rather than silently dropping rows the way a broken inner join would.
    """
    by_shard = {shard: cents for shard, cents in state}

    def fn(shards: pd.Series, vs: pd.Series) -> pd.DataFrame:
        n = len(shards)
        cid_out = np.empty(n, dtype=object)
        d_out = np.empty(n, dtype=np.float64)
        if n:
            codes, uniq = pd.factorize(shards, use_na_sentinel=False)
            for u, shard in enumerate(uniq):
                mask = codes == u
                cid, d = nearest_centroid_batch(
                    by_shard[shard], _stack(vs[mask]), need_dist=True)
                cid_out[mask] = cid
                d_out[mask] = d
        return pd.DataFrame({"cid": cid_out, "d": d_out})

    return F.pandas_udf(fn, f"struct<cid: {cid_ddl}, d: double>")


def pool_min_dist_udf(pool: list[list[float]]):
    """Scalar Pandas UDF ``vec -> double`` — the seeding pass-B min
    distance ``array_min(transform(pool, c -> round(sqdist(v, c), 6)))``
    (``clustering._seed_rows``). Bit-identity argument: each
    point-to-candidate distance is the exact sequential fold
    (:func:`_exact_fold_dists`), and HALF_UP rounding is monotone
    (d₁ ≤ d₂ ⇒ round6(d₁) ≤ round6(d₂)), so the min of the rounded
    distances IS the rounded exact min — one ``_round6`` call per row, no
    tie short-list needed (only the min VALUE is reported, never which
    candidate attained it)."""
    from hierarchical_graph_db_spark.operators.clustering import _round6

    P = np.asarray(pool, dtype=np.float64)

    def fn(vs: pd.Series) -> pd.Series:
        V = _stack(vs)
        n = V.shape[0]
        if n == 0:
            return pd.Series(np.empty(0, dtype=np.float64))
        dmin = _exact_fold_dists(V, P).min(axis=1)
        return pd.Series(np.fromiter((_round6(d) for d in dmin),
                                     dtype=np.float64, count=n))

    return F.pandas_udf(fn, "double")


def list_id_udf(centers: list[list[float]]):
    """Scalar Pandas UDF ``vec -> int`` — the ``ivf.assign_lists``
    rounded argmin (list ids are centroid positions)."""
    cents = [(i, c) for i, c in enumerate(centers)]

    def fn(vs: pd.Series) -> pd.Series:
        cid, _ = nearest_centroid_batch(cents, _stack(vs), need_dist=False)
        return pd.Series(cid.astype(np.int32))

    return F.pandas_udf(fn, "int")

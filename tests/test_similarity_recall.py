"""ANN quality: LSH recall against the exact brute-force baseline.

Uniform-random vectors are near-orthogonal, where approximate NN is
meaningless; recall is measured on *clustered* data (the realistic shape for
embedding near-dup work): 8 well-separated centers, members = center + small
noise, all deterministic.
"""

from __future__ import annotations

import math
import random

from hierarchical_graph_db_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)

DIM = 16
K = 5


def _clustered_vectors(n_clusters=8, per_cluster=12, noise=0.15):
    rng = random.Random(1234)

    def unit(v):
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        return [x / n for x in v]

    centers = [unit([rng.gauss(0, 1) for _ in range(DIM)])
               for _ in range(n_clusters)]
    rows = []
    vid = 0
    for c in centers:
        for _ in range(per_cluster):
            rows.append((vid, unit([x + rng.gauss(0, noise) for x in c])))
            vid += 1
    return rows


def test_lsh_recall_vs_bruteforce(spark):
    """Single-TABLE LSH recall: independent hyperplanes split clusters that
    straddle a plane, so one table at 4 planes only recovers part of the
    exact top-k — the documented reason the near-dup operator uses 8 BANDS
    (OR-amplification) and lsh_topk offers multi-probe (next test)."""
    rows = _clustered_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.where("vec_id % 12 = 0")  # one query per cluster

    exact = brute_force_topk(queries, df, k=K, dim=DIM)
    approx = lsh_topk(queries, df, k=K, n_planes=4, dim=DIM)

    def by_query(res):
        out = {}
        for r in res.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    ex, ap = by_query(exact), by_query(approx)
    recalls = [len(ex[q] & ap.get(q, set())) / len(ex[q]) for q in ex]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.25, f"mean recall {mean_recall:.2f}, per-q {recalls}"


def test_ivf_recall_vs_bruteforce(spark):
    """IVF-Flat with n_lists=8, nprobe=2 on the 8 true clusters: a query's
    own cluster is always probed, so recall should be near-perfect."""
    from hierarchical_graph_db_spark.operators.ivf import (
        deterministic_centroids,
        ivf_topk,
    )

    rows = _clustered_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.where("vec_id % 12 = 0")
    centers = deterministic_centroids(df, n_lists=8)
    exact = brute_force_topk(queries, df, k=K, dim=DIM)
    approx = ivf_topk(queries, df, centers, k=K, nprobe=2)

    def by_query(res):
        out = {}
        for r in res.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    ex, ap = by_query(exact), by_query(approx)
    recalls = [len(ex[q] & ap.get(q, set())) / len(ex[q]) for q in ex]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.9, f"mean recall {mean_recall:.2f}, per-q {recalls}"


def test_ivf_empty_corpus_returns_empty_frame(spark):
    """An empty corpus trains no centroids; the search returns 0 rows with
    the schema the search over a trained index has."""
    from hierarchical_graph_db_spark.operators.ivf import (
        deterministic_centroids,
        ivf_topk,
    )

    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    centers = deterministic_centroids(df, n_lists=8)
    assert centers == []
    out = ivf_topk(df, df, centers, k=K, nprobe=2)
    assert out.schema == ivf_topk(df, df, [[0.0] * DIM], k=K).schema
    assert out.count() == 0


def test_banded_near_dup_recall_vs_exact(spark):
    """Default (banded-LSH) near_duplicate_pairs vs the exact=True oracle on
    clustered vectors: high recall, identical scores for every found pair."""
    from hierarchical_graph_db_spark.operators.similarity import (
        near_duplicate_pairs,
    )

    rows = _clustered_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {(r["id_a"], r["id_b"]): r["score"]
             for r in near_duplicate_pairs(df, threshold=0.9, dim=DIM,
                                           exact=True).collect()}
    approx = {(r["id_a"], r["id_b"]): r["score"]
              for r in near_duplicate_pairs(df, threshold=0.9,
                                            dim=DIM).collect()}
    assert exact, "fixture must produce near-dup pairs"
    recall = len(set(approx) & set(exact)) / len(exact)
    assert recall >= 0.9, f"recall {recall:.2f}"
    for pair, score in approx.items():
        assert exact[pair] == score  # rescore is the exact kernel
    assert set(approx) <= set(exact)  # no false positives (exact rescore)


def test_lsh_scores_match_exact_for_found_pairs(spark):
    """Approximation only prunes candidates — any pair LSH does score must
    carry the exact cosine (same kernel, same rounding)."""
    rows = _clustered_vectors(n_clusters=3, per_cluster=6)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.where("vec_id < 3")
    exact = {(r["query_id"], r["neighbor_id"]): r["score"]
             for r in brute_force_topk(q, df, k=50, dim=DIM).collect()}
    for r in lsh_topk(q, df, k=K, n_planes=4, dim=DIM).collect():
        assert exact[(r["query_id"], r["neighbor_id"])] == r["score"]


def test_multiprobe_recall_at_least_single_probe(spark):
    """Hamming-1 multi-probe may only ADD candidate buckets, so its recall
    vs brute force dominates the single-probe recall (same planes, same
    corpus layout)."""
    rows = _clustered_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.where("vec_id % 12 = 0")

    exact = brute_force_topk(queries, df, k=K, dim=DIM)
    single = lsh_topk(queries, df, k=K, n_planes=4, dim=DIM)
    multi = lsh_topk(queries, df, k=K, n_planes=4, dim=DIM, multi_probe=True)

    def by_query(res):
        out = {}
        for r in res.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    ex, sg, mp = by_query(exact), by_query(single), by_query(multi)

    def mean_recall(ap):
        rec = [len(ex[q] & ap.get(q, set())) / len(ex[q]) for q in ex]
        return sum(rec) / len(rec)

    r_single, r_multi = mean_recall(sg), mean_recall(mp)
    assert r_multi >= r_single + 0.2, (
        f"multi-probe should dominate clearly: single {r_single:.2f}, "
        f"multi {r_multi:.2f}"
    )
    assert r_multi >= 0.8, f"multi-probe recall {r_multi:.2f}"


def test_pq_adc_separates_blobs(spark):
    """PQ quality gate on separable data: with per-subspace codebooks the
    ADC top-1 neighbor of every blob member is another member of the SAME
    blob (inter-blob distances dwarf quantization error)."""
    from pyspark.sql import functions as F

    from hierarchical_graph_db_spark.operators.pq import (
        pq_adc_topk,
        pq_codebooks,
    )

    rows = []
    for b, center in enumerate(((0.0, 0.0, 0.0, 0.0),
                                (10.0, 10.0, 0.0, 0.0),
                                (0.0, 0.0, 10.0, 10.0))):
        for i in range(30):
            jit = ((i * 7 % 19) - 9) / 50.0
            rows.append((b * 30 + i,
                         [c + jit * (j + 1) / 4.0
                          for j, c in enumerate(center)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = pq_codebooks(df, dim=4, m=2, ksub=3, n_rounds=2,
                         train_sample=None)
    out = pq_adc_topk(df.where(F.col("vec_id") < 6), df, books, dim=4,
                      k=1).collect()
    assert len(out) == 6
    for r in out:
        assert r["neighbor_id"] // 30 == r["query_id"] // 30


def test_pq_corpus_side_reads_codes_only(spark, sf_dir):
    """The PQ scoring plan broadcasts the tiny query side and streams the
    corpus through a pure encode projection — no cartesian product, no
    shuffle of the corpus before the top-k window."""
    from hierarchical_graph_db_spark.queries import load

    plan = (
        load()["ann_pq_adc_topk"].run(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_ivfpq_prunes_and_scores(spark, sf_dir):
    """IVF-PQ returns k ranked candidates per query from probed lists
    only, and its plan has no cartesian product — the corpus side is one
    fused (list_id, codes) projection joined to the broadcast probe set."""
    from hierarchical_graph_db_spark.queries import load

    df = load()["ann_ivfpq_topk"].run(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    rows = df.collect()
    assert {r["query_id"] for r in rows} == set(range(8))
    for r in rows:
        assert 1 <= r["rank"] <= 5 and r["neighbor_id"] != r["query_id"]


def test_int8_quantize_roundtrip_error_bounded(spark):
    """SQ8 reconstruction error is bounded by half a quantization step per
    dimension: dequantized components differ from the original by at most
    span/255/2 (+ float noise)."""
    from hierarchical_graph_db_spark.operators.pq import scalar_quantize_int8

    rows = [(i, [((i * 7 + j * 13) % 101) / 101.0 * 4.0 - 2.0
                 for j in range(8)]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    codes = {r["id"]: list(r["codes"])
             for r in scalar_quantize_int8(df, dim=8).collect()}
    comps = [v for _, vec in rows for v in vec]
    mins = [min(vec[j] for _, vec in rows) for j in range(8)]
    spans = [max(vec[j] for _, vec in rows) - mins[j] for j in range(8)]
    for i, vec in rows:
        for j, x in enumerate(vec):
            deq = mins[j] + codes[i][j] / 255.0 * spans[j]
            assert abs(deq - x) <= spans[j] / 255.0 / 2 + 1e-9
    assert comps  # sanity: non-empty fixture


def test_hamming_and_ivfpq_separate_blobs(spark):
    """Quality gates for the binary and IVF-PQ variants on SEPARABLE data:
    top-1 neighbors stay within the query's blob. (Fixture-overlap floors
    vs brute force are deliberately NOT pinned: the synthetic embeddings
    are uniform-random 64-d vectors, where all pairwise cosines sit at
    0.5±ε and quantized methods measure ~0.1-0.25 overlap@5 by
    construction — a floor there would gate noise, not quality. Where the
    data has structure, the gates below must hold exactly.)"""
    from pyspark.sql import functions as F

    from hierarchical_graph_db_spark.operators.ivf import (
        deterministic_centroids,
    )
    from hierarchical_graph_db_spark.operators.pq import (
        hamming_topk,
        ivfpq_topk,
        pq_codebooks,
    )

    rows = []
    for b, center in enumerate(((-2.0, -2.0, -2.0, -2.0),
                                (2.0, 2.0, -2.0, -2.0),
                                (-2.0, -2.0, 2.0, 2.0))):
        for i in range(30):
            jit = ((i * 7 % 19) - 9) / 50.0
            rows.append((b * 30 + i,
                         [c + jit * (j + 1) / 4.0
                          for j, c in enumerate(center)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    ham = hamming_topk(df.where(F.col("vec_id") < 6), df, dim=4,
                       k=1).collect()
    assert len(ham) == 6
    # sign bits: blob 0 = ----, blob 1 = ++--, blob 2 = --++ (jitter < 2
    # never flips a sign) → hamming-nearest is always same-blob
    for r in ham:
        assert r["neighbor_id"] // 30 == r["query_id"] // 30

    centers = deterministic_centroids(df, n_lists=3, id_col="vec_id",
                                      vec_col="embedding", n_rounds=2,
                                      train_sample=None)
    books = pq_codebooks(df, dim=4, m=2, ksub=3, n_rounds=2,
                         train_sample=None)
    out = ivfpq_topk(df.where(F.col("vec_id") < 6), df, centers, books,
                     dim=4, k=1, nprobe=1).collect()
    assert len(out) == 6
    for r in out:
        assert r["neighbor_id"] // 30 == r["query_id"] // 30

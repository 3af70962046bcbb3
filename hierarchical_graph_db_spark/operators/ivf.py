"""IVF (inverted-file) approximate nearest neighbor — the index-based scale
path beside hyperplane LSH (SURVEY.md §2.11).

Architecture (classic IVF-Flat):

1. **train** — the engine's own deterministic k-means
   (``operators/clustering.py`` — oversampled seeding, fixed-point centroid
   sums, SQL-replayable) learns ``n_lists`` coarse centroids over a
   bounded deterministic sample of the corpus;
2. **index** — every corpus vector is assigned to its nearest centroid (the
   inverted list); at 100 TB the corpus is *written partitioned/bucketed by
   list id* so a probe reads only its lists' files;
3. **search** — each query ranks centroids by distance, probes the
   ``nprobe`` nearest lists, and scores only those lists' vectors:
   |corpus|·nprobe/n_lists candidates instead of |corpus|.

The trained centers are small enough to bake into the plan (the same trick
the LSH hyperplanes use): corpus-side list assignment runs the Arrow
nearest-centroid kernel (``operators/arrow_kernels.list_id_udf``), query-side
probe selection Catalyst expressions over centroid literals; candidate
scoring reuses the unrolled cosine kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hierarchical_graph_db_spark.functions.vectors import (
    cosine_from_parts,
    dot_static,
    l2_norm,
)


TRAIN_SAMPLE = 10_000


def deterministic_centroids(corpus: DataFrame, n_lists: int = 10,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            n_rounds: int = 2,
                            train_sample: int = TRAIN_SAMPLE
                            ) -> list[list[float]]:
    """Coarse quantizer trained with the engine's deterministic k-means
    (``operators/clustering.kmeans_centroid_rows``): no RNG, 6dp-quantized
    state, so a SQL oracle can replay the exact same centers. Trains on a
    bounded deterministic sample (smallest-``sha256(pid)`` top-N — round-5
    verdict item 3), so training cost is CONSTANT in corpus size; a coarse
    quantizer needs a representative sample, not the corpus. The driver
    holds at most ``train_sample`` vectors while training; a thin driver
    passes a smaller ``train_sample``. Returned ordered by seed id — list i
    is centroid i in :func:`assign_lists` / :func:`ivf_topk`."""
    from hierarchical_graph_db_spark.operators.clustering import (
        kmeans_centroid_rows,
    )

    rows = kmeans_centroid_rows(corpus, id_col=id_col, vec_col=vec_col,
                                k=n_lists, n_rounds=n_rounds,
                                train_sample=train_sample)
    return [c for _, c in sorted(rows, key=lambda r: r[0])]


def _sq_dist(vec, center: list[float]):
    """||v - c||² against a literal center: left fold over
    ``zip_with`` — one compact higher-order expression instead of 2×dim
    unrolled codegen nodes, and multiplication (not ``pow``) exactly
    matching the oracle's ``(q[1]-q[2]) * (q[1]-q[2])``. Identical result
    to the clustering kernel (0.0 + t₀ = t₀ exactly for t₀ ≥ 0)."""
    from hierarchical_graph_db_spark.operators.clustering import (
        _lit_vec,
        _sq_dist as _fold,
    )

    return _fold(F.transform(vec, lambda x: x.cast("double")),
                 _lit_vec(center))


def assign_lists(df: DataFrame, centers: list[list[float]],
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """Index step: nearest-centroid id per vector, through the vectorized
    kernel ``operators/arrow_kernels.list_id_udf``. Output: (id, list_id,
    vec, norm) — what gets written bucketed by list_id at scale."""
    # Distances rounded to 6dp before the argmin (ties → lowest list id):
    # the same quantize-then-compare discipline as operators/clustering.py,
    # which is what lets a SQL oracle replay the assignment bit-for-bit.
    from hierarchical_graph_db_spark.operators.arrow_kernels import (
        list_id_udf,
    )

    list_id = list_id_udf(centers)(F.col(vec_col))
    return df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        l2_norm(F.col(vec_col)).alias("norm"),
        list_id.alias("list_id"),
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centers: list[list[float]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search step: probe the ``nprobe`` nearest lists per query, exact
    cosine inside them, top-k per query. The corpus-side list assignment
    is :func:`assign_lists`; the query-side probe ranking runs on
    expressions (|queries| rows, negligible)."""
    from pyspark.sql.window import Window

    if not centers:  # empty corpus: no lists to probe
        nid = corpus.schema[id_col]
        return queries.where(F.lit(False)).select(
            F.col(id_col).alias("query_id"),
            F.lit(None if nid.nullable else 0).cast(nid.dataType)
            .alias("neighbor_id"),
            F.lit(None).cast("double").alias("score"),
            F.lit(0).alias("rank"))
    dim = len(centers[0])
    indexed = assign_lists(corpus, centers, id_col, vec_col)

    dists = F.array(*[
        F.struct(F.round(_sq_dist(F.col(vec_col), c), 6).alias("d"),
                 F.lit(i).alias("i"))
        for i, c in enumerate(centers)
    ])
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(F.col(vec_col)).alias("q_norm"),
        F.explode(
            F.slice(F.transform(F.array_sort(dists), lambda s: s["i"]), 1, nprobe)
        ).alias("list_id"),
    )
    scored = (
        probes.join(indexed, on="list_id")
        .where(F.col("query_id") != F.col("id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            F.round(
                cosine_from_parts(
                    dot_static("q_vec", "vec", dim),
                    F.col("q_norm"),
                    F.col("norm"),
                ),
                5,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )

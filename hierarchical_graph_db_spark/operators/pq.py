"""Product quantization (PQ) for approximate nearest neighbor — the
memory-bounded scale path beside IVF (``operators/ivf.py``) and hyperplane
LSH (``operators/similarity.py``); SURVEY.md §2.11's similarity family.

Public method: Jégou, Douze, Schmid, "Product Quantization for Nearest
Neighbor Search" (TPAMI 2011). The vector space is split into ``m``
subspaces; each subspace gets its own small codebook (k-means over the
subvectors); a vector is stored as ``m`` small codes (here m × 3-4 bits vs
64 × 32-bit floats — a ~50× compression, which is what makes billion-vector
corpora fit in memory at 100 TB scale); queries score candidates with the
Asymmetric Distance Computation (ADC): per-subspace distance tables from the
*uncompressed* query to every codeword, candidate distance = the sum of m
table lookups.

Spark-first shape:

* **train** — the engine's sharded deterministic k-means with *shard =
  subspace*: every subspace's codebook trains concurrently, on a bounded
  smallest-``sha256(pid)`` sample replayed on the driver
  (``operators/clustering.sharded_train_rows_local``) — training cost
  constant in corpus size, like IVF's quantizer — or, without a sample,
  in ONE distributed plan per round over the whole corpus
  (``operators/clustering.sharded_kmeans_state``: Arrow per-shard
  assignment, shard-keyed fixed-point centroid aggregates);
* **encode** — per-row argmin per subspace over the codebook literals
  (zip_with over two literal arrays — no join, no shuffle);
* **search** — the tiny query side carries its m×ksub ADC tables as an
  expression-computed column and broadcasts; the corpus side streams codes
  only. Scoring is m array lookups + a fixed-order sum per candidate.

Determinism / oracle parity: codebooks come from the deterministic sharded
k-means (no RNG, 6dp-quantized state, fixed-point sums); encode distances
round to 6dp before the argmin (ties → lowest code); ADC sums the m table
entries in subspace order (left-to-right) and rounds to 6dp — a SQL engine
replays training, encoding, and scoring bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hierarchical_graph_db_spark.functions.fastlit import (
    lit_double_array,
    lit_double_matrix,
    lit_index_array,
)
from hierarchical_graph_db_spark.operators.clustering import (
    _sq_dist,
    sharded_kmeans_state,
)

M_SUBSPACES = 4
KSUB = 8
TRAIN_SAMPLE = 10_000
PQ_ROUNDS = 2
PQ_OVERSAMPLE = 4


def _subvec(col, s: int, dsub: int):
    return F.slice(col, s * dsub + 1, dsub)


def pq_codebooks(corpus: DataFrame, dim: int, m: int = M_SUBSPACES,
                 ksub: int = KSUB, id_col: str = "vec_id",
                 vec_col: str = "embedding", n_rounds: int = PQ_ROUNDS,
                 oversample: int = PQ_OVERSAMPLE,
                 train_sample: int | None = TRAIN_SAMPLE
                 ) -> list[list[list[float]]]:
    """``books[s][j]`` = codeword j of subspace s, trained as ONE sharded
    k-means run over the exploded (subspace, pid, subvector) rows — all m
    codebooks learn concurrently; no per-subspace job trains alone. The
    bounded sample keeps training cost independent of corpus size.
    Codewords are ordered by seed id, so code j is reproducible
    cross-engine (the IVF centroid-ordering trick).

    Sampled training runs as ONE Spark job + a driver NumPy replay
    (``clustering.sharded_train_rows_local``, bit-identical to
    ``sharded_kmeans_state`` over the same rows by the pinned twin recipes;
    the subvector slices are the same elements ``F.slice`` selects). The
    driver holds at most ``train_sample`` vectors; a thin driver passes a
    smaller ``train_sample``. ``train_sample=None`` trains on the full
    corpus with the distributed ``sharded_kmeans_state``."""
    from hierarchical_graph_db_spark.operators.clustering import (
        _collect_pid_vecs,
        _project,
        _sha_sample,
        sharded_train_rows_local,
    )

    dsub = dim // m
    pts = _project(corpus, id_col, vec_col)
    if train_sample is not None:
        rows = _collect_pid_vecs(_sha_sample(pts, train_sample))
        shard_rows = {
            s: [(pid, v[s * dsub:(s + 1) * dsub]) for pid, v in rows]
            for s in range(m)
        }
        state = sharded_train_rows_local(shard_rows, k=ksub,
                                         n_rounds=n_rounds,
                                         oversample=oversample)
    else:
        sub = (
            pts.select(
                "pid",
                F.explode(F.array(*[
                    F.struct(F.lit(s).alias("shard"),
                             _subvec(F.col("v"), s, dsub).alias("sv"))
                    for s in range(m)
                ])).alias("e"),
            )
            .select(F.col("e.shard").alias("shard"), "pid",
                    F.col("e.sv").alias("v"))
        )
        state = sharded_kmeans_state(sub, k=ksub, n_rounds=n_rounds,
                                     oversample=oversample)
    by_shard = dict(state)
    return [
        [c for _, c in sorted(by_shard.get(s, []), key=lambda r: r[0])]
        for s in range(m)
    ]


def _code_expr(vec, book: list[list[float]]) -> F.Column:
    """argmin codeword index for one subspace: distances to the codebook
    literal rounded to 6dp, ties → lowest code (lexicographic struct
    min)."""
    cents = lit_double_matrix(book)
    idxs = lit_index_array(range(len(book)))
    scored = F.zip_with(
        cents, idxs,
        lambda c, j: F.struct(F.round(_sq_dist(vec, c), 6).alias("d"),
                              j.alias("j")))
    return F.array_sort(scored)[0]["j"]


def pq_encode(df: DataFrame, books: list[list[list[float]]], dim: int,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """(id, codes): the m-byte compressed form — what a 100 TB deployment
    persists instead of raw vectors. Pure projection: no join, no
    shuffle."""
    m = len(books)
    dsub = dim // m
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    codes = F.array(*[
        _code_expr(_subvec(v, s, dsub), books[s]) for s in range(m)
    ])
    return df.select(F.col(id_col).alias("id"), codes.alias("codes"))


def pq_adc_topk(queries: DataFrame, corpus: DataFrame,
                books: list[list[list[float]]], dim: int, k: int = 5,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """ADC top-k: per query, the k corpus vectors with the smallest
    approximate (table-summed) squared distance. The query side computes
    its m×ksub distance tables as an expression column and broadcasts; the
    corpus side contributes ONLY its codes — at scale the scan reads the
    m-byte code column, never the raw vectors (column pruning does the
    50× I/O cut)."""
    from pyspark.sql.window import Window

    m = len(books)
    dsub = dim // m
    qv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    tabs = F.array(*[
        F.transform(
            lit_double_matrix(books[s]),
            lambda c: F.round(_sq_dist(_subvec(qv, s, dsub), c), 6))
        for s in range(m)
    ])
    q = queries.select(F.col(id_col).alias("query_id"),
                       tabs.alias("tabs"))
    encoded = pq_encode(corpus, books, dim, id_col, vec_col)
    # fixed subspace order: t₀ + t₁ + … left-to-right, then one 6dp round —
    # the oracle lists the per-subspace lookups in the same order
    adc = None
    for s in range(m):
        t = F.element_at(F.element_at("tabs", s + 1),
                         F.element_at("codes", s + 1) + 1)
        adc = t if adc is None else adc + t
    scored = (
        encoded.join(F.broadcast(q))
        .where(F.col("query_id") != F.col("id"))
        .select("query_id", F.col("id").alias("neighbor_id"),
                F.round(adc, 6).alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def ivfpq_topk(queries: DataFrame, corpus: DataFrame,
               centers: list[list[float]],
               books: list[list[list[float]]], dim: int, k: int = 5,
               nprobe: int = 2, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """IVF-PQ (Jégou et al. 2011 §V): the coarse quantizer prunes to
    ``nprobe`` inverted lists per query, PQ-ADC scores only those lists'
    candidates — the billion-vector architecture (FAISS's default): probe
    pruning cuts candidates to |corpus|·nprobe/n_lists AND each candidate
    costs m table lookups on its m-byte code instead of a dim-float scan.

    One fused corpus projection computes (list_id, codes) — at scale this
    is the indexing write, bucketed by list_id so probes prune files; the
    query side broadcasts (probe lists + ADC tables). Deterministic end to
    end: both quantizers come from the deterministic sharded/flat k-means,
    every argmin is 6dp-quantized with id tie-breaks, the table-sum order
    is fixed."""
    from pyspark.sql.window import Window

    from hierarchical_graph_db_spark.operators.clustering import _lit_vec

    m = len(books)
    dsub = dim // m
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    cdists = F.array(*[
        F.struct(F.round(_sq_dist(v, _lit_vec(c)), 6).alias("d"),
                 F.lit(i).alias("i"))
        for i, c in enumerate(centers)
    ])
    codes = F.array(*[
        _code_expr(_subvec(v, s, dsub), books[s]) for s in range(m)
    ])
    indexed = corpus.select(
        F.col(id_col).alias("id"),
        F.array_sort(cdists)[0]["i"].alias("list_id"),
        codes.alias("codes"),
    )
    tabs = F.array(*[
        F.transform(
            lit_double_matrix(books[s]),
            lambda c: F.round(_sq_dist(_subvec(v, s, dsub), c), 6))
        for s in range(m)
    ])
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        tabs.alias("tabs"),
        F.explode(
            F.slice(F.transform(F.array_sort(cdists), lambda s: s["i"]),
                    1, nprobe)
        ).alias("list_id"),
    )
    adc = None
    for s in range(m):
        t = F.element_at(F.element_at("tabs", s + 1),
                         F.element_at("codes", s + 1) + 1)
        adc = t if adc is None else adc + t
    scored = (
        indexed.join(F.broadcast(probes), on="list_id")
        .where(F.col("query_id") != F.col("id"))
        .select("query_id", F.col("id").alias("neighbor_id"),
                F.round(adc, 6).alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def scalar_quantize_int8(df: DataFrame, dim: int, id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Per-dimension int8 scalar quantization (the standard vector-store
    storage format, e.g. FAISS SQ8 — public method): pass 1 computes each
    dimension's [min, max] with ONE posexplode + hash aggregate (partials
    collapse map-side; O(dim) rows cross the exchange regardless of corpus
    size); pass 2 maps every component to ``round((x-min)/(max-min)·255)``
    as a pure projection with the dim-bounded stats riding as two array
    literals. A constant dimension (max == min) codes to 0. 4× smaller
    than float32 columns at scale; deterministic (min/max are
    order-independent aggregates, rounding is HALF_UP on both engines)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    stats = (
        df.select(F.posexplode(v).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .collect()
    )
    by_pos = {r["pos"]: (r["mn"], r["mx"]) for r in stats}
    mins = [by_pos[p][0] for p in range(dim)]
    spans = [by_pos[p][1] - by_pos[p][0] for p in range(dim)]
    centered = F.zip_with(v, lit_double_array(mins), lambda x, m: x - m)
    codes = F.zip_with(
        centered, lit_double_array(spans),
        lambda d, s: F.when(s == 0.0, F.lit(0)).otherwise(
            F.round(d / s * 255).cast("int")))
    return df.select(F.col(id_col).alias("id"), codes.alias("codes"))


def binary_signature(vec_sql: str, dim: int) -> list[F.Column]:
    """Sign-bit binary code of a vector, packed as ⌈dim/32⌉ bigint words
    (component ≥ 0 → bit set; bit i of word w = dimension w·32+i). 32-bit
    words keep every shift well inside bigint range on BOTH engines
    (DuckDB's ``<<`` errors on a 63-bit overflow where Spark wraps — the
    cross-engine reason not to pack 64 bits into one signed word).

    ``vec_sql`` is the SQL text of the vector column: each word is parsed
    from ONE SQL string (the hyperplane_signature trick) — the former
    per-bit ``when``-chain cost ~2.3 s of driver-side py4j round trips per
    hamming_topk call just to BUILD the expressions (measured round 15);
    the parsed CASE/ELSE arithmetic is node-for-node the same plan."""
    import re

    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", vec_sql):
        raise ValueError(
            f"binary_signature expects a plain column identifier, got "
            f"{vec_sql!r}")
    words = []
    for w in range((dim + 31) // 32):
        terms = [
            f"(CASE WHEN CAST(element_at({vec_sql}, {w * 32 + i + 1}) "
            f"AS DOUBLE) >= 0.0D "
            f"THEN CAST(1 AS BIGINT) * {1 << i} "
            f"ELSE CAST(0 AS BIGINT) END)"
            for i in range(min(32, dim - w * 32))
        ]
        words.append(F.expr(" + ".join(terms)))
    return words


def hamming_topk(queries: DataFrame, corpus: DataFrame, dim: int,
                 k: int = 5, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """Binary-quantized ANN (Charikar 2002 sign-random-projection family,
    identity projection): 1 bit per dimension — a 32× compression — and
    candidate distance = popcount of the XOR of the packed words, integer
    arithmetic end to end (bit-exact cross-engine, no rounding contract
    needed at all). Query side broadcasts; corpus contributes only its
    ⌈dim/32⌉ code words, so the scan at scale reads 8-16 bytes per vector.
    Ties break on (hamming, neighbor id)."""
    from pyspark.sql.window import Window

    n_words = (dim + 31) // 32
    def coded(df, prefix):
        words = binary_signature(vec_col, dim)
        return df.select(
            F.col(id_col).alias(f"{prefix}_id"),
            *[w.alias(f"{prefix}_w{i}") for i, w in enumerate(words)])

    q = coded(queries, "q")
    c = coded(corpus, "c")
    # one parsed expression, left-assoc adds — same plan as the former
    # bit_count/bitwiseXOR Column chain, none of its py4j build cost
    ham = F.expr(" + ".join(
        f"CAST(bit_count(q_w{i} ^ c_w{i}) AS BIGINT)" for i in range(n_words)
    ))
    scored = (
        c.join(F.broadcast(q))
        .where(F.col("q_id") != F.col("c_id"))
        .select(F.col("q_id").alias("query_id"),
                F.col("c_id").alias("neighbor_id"),
                ham.alias("hamming"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )

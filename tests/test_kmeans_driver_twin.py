"""Differential pins for the driver-twin sampled trainers:
``kmeans_centroid_rows(df, train_sample=N)`` and
``pq_codebooks(df, train_sample=N)`` pull the N rows with the smallest
``(sha256(pid), pid)`` and replay seeding and every Lloyd round in NumPy on
the driver. They must be BIT-identical to the distributed trainers
(``clustering._train`` / ``clustering.sharded_kmeans_state``) run over
exactly those N rows, i.e. the same call with ``train_sample=None`` on the
top-N frame — the same discipline as the graph hybrid finishes'
``small_cutoff=0`` differentials.

Covers fixture data, an empty corpus and an adversarial random corpus
(negative components, near-tie distances, a sample smaller than / equal
to / larger than the corpus).
"""

from __future__ import annotations

import random
import struct

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from hierarchical_graph_db_spark.operators.clustering import (
    kmeans_centroid_rows,
)
from hierarchical_graph_db_spark.operators.pq import pq_codebooks

SCHEMA = StructType([
    StructField("vec_id", LongType(), False),
    StructField("embedding", ArrayType(DoubleType(), False), False),
])


def _bits_rows(rows):
    return [(cid, [struct.pack("d", x) for x in c]) for cid, c in rows]


def _bits_books(books):
    return [[[struct.pack("d", x) for x in c] for c in b] for b in books]


def _random_corpus(spark, n: int, dim: int, seed: int):
    rng = random.Random(seed)
    rows = [(i, [rng.uniform(-3, 3) for _ in range(dim)]) for i in range(n)]
    return spark.createDataFrame(rows, SCHEMA)


def _top_n(df, n: int):
    """The rows a ``train_sample=n`` trainer pulls, as a Spark frame."""
    return df.orderBy(F.sha2(F.col("vec_id").cast("string"), 256),
                      F.col("vec_id")).limit(n)


@pytest.mark.parametrize("n,train_sample,k,n_rounds", [
    (400, 100, 7, 2),    # sample < corpus: pass B binds
    (120, 200, 5, 3),    # sample > corpus: pass B empty on the remainder
    (64, 64, 8, 2),      # sample == corpus
])
def test_kmeans_twin_random(spark, n, train_sample, k, n_rounds):
    df = _random_corpus(spark, n, 16, seed=n)
    twin = kmeans_centroid_rows(df, k=k, n_rounds=n_rounds,
                                train_sample=train_sample)
    dist = kmeans_centroid_rows(_top_n(df, train_sample), k=k,
                                n_rounds=n_rounds, train_sample=None)
    assert _bits_rows(twin) == _bits_rows(dist)


@pytest.mark.parametrize("m,ksub,n_rounds,oversample,n", [
    (4, 8, 2, 4, 300),
    (2, 4, 3, 8, 300),
    (4, 8, 2, 4, 0),     # empty corpus: no shard gets seeds on either path
], ids=["4-8-2-4", "2-4-3-8", "empty"])
def test_pq_twin_random(spark, m, ksub, n_rounds, oversample, n):
    df = _random_corpus(spark, n, 16, seed=m * 100 + ksub)
    kw = dict(dim=16, m=m, ksub=ksub, n_rounds=n_rounds,
              oversample=oversample)
    twin = pq_codebooks(df, train_sample=128, **kw)
    dist = pq_codebooks(_top_n(df, 128), train_sample=None, **kw)
    assert _bits_books(twin) == _bits_books(dist)
    if n == 0:
        assert twin == [[]] * m


def test_kmeans_twin_fixture(spark, sf_dir):
    from hierarchical_graph_db_spark.io import Catalog

    emb = Catalog(spark, sf_dir).embeddings
    twin = kmeans_centroid_rows(emb, k=10, n_rounds=2, train_sample=10_000)
    dist = kmeans_centroid_rows(_top_n(emb, 10_000), k=10, n_rounds=2,
                                train_sample=None)
    assert _bits_rows(twin) == _bits_rows(dist)


def test_pq_twin_fixture(spark, sf_dir):
    from hierarchical_graph_db_spark.io import Catalog

    emb = Catalog(spark, sf_dir).embeddings
    kw = dict(dim=64, m=4, ksub=8, n_rounds=2, oversample=4)
    twin = pq_codebooks(emb, **kw)
    dist = pq_codebooks(_top_n(emb, 10_000), train_sample=None, **kw)
    assert _bits_books(twin) == _bits_books(dist)

"""End-to-end oracle check of the quantizer family at sf0.001: every
k-means, IVF, PQ and scalar/binary quantization registry query must hash
equal to its DuckDB oracle replay (``__spark_entry__.oracle_sql()``),
canonicalized by ``tools/result_digest.frame_digest`` exactly as
``tools/verify_local.py`` does. These queries run the Arrow
nearest-centroid kernel and the driver-twin sampled trainers, so this is
the bit-exact reference for both."""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_SMALL
from tools.result_digest import frame_digest

QUANTIZER_QUERIES = [
    "embedding_kmeans_clusters",
    "semantic_dedup_keepers",
    "semantic_dedup_sharded",
    "ann_ivf_topk",
    "ann_pq_adc_topk",
    "ann_ivfpq_topk",
    "embedding_int8_quantize",
    "ann_hamming_topk",
]


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    con.sql("CREATE VIEW embeddings AS SELECT * FROM "
            f"'{os.path.join(SF_SMALL, 'embeddings.parquet')}'")
    yield con
    con.close()


@pytest.mark.parametrize("name", QUANTIZER_QUERIES)
def test_quantizer_query_matches_oracle(spark, duck, name):
    import __spark_entry__ as entry

    sdf = entry.queries()[name](spark, SF_SMALL)
    s_cols, s_rows = sdf.columns, [tuple(r) for r in sdf.collect()]
    rel = duck.sql(entry.oracle_sql()[name])
    d_cols, d_rows = rel.columns, rel.fetchall()
    assert sorted(s_cols) == sorted(d_cols)
    assert len(s_rows) == len(d_rows) > 0
    assert frame_digest(s_cols, s_rows) == frame_digest(d_cols, d_rows)

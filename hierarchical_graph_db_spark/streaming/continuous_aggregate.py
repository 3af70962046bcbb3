"""Continuous aggregate (hypertable-rollup style): a time-bucketed rollup
store maintained incrementally from a stream.

TimescaleDB's continuous aggregates / materialized rollups, Spark-native:
each micro-batch computes its *partial* (window, key) aggregates — counts
and sums, the decomposable kind — and merges them into a bucketed parquet
rollup store by key addition. Querying the store costs O(|buckets|), never
a rescan of raw events; the merge reads and rewrites ONLY the partition
directories whose ``window_start`` appears in the batch.

Exactly-once: the merge is NOT naturally idempotent (counts would double on
replay), so the store's write-ahead protocol skips committed batch ids and
finishes interrupted ones from durable scratch — see
:mod:`hierarchical_graph_db_spark.streaming.store`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hierarchical_graph_db_spark.streaming.ingest import apply_batch
from hierarchical_graph_db_spark.streaming.store import BucketedParquetStore


def partial_rollup(batch: DataFrame, minutes: int = 60) -> DataFrame:
    """Per-batch partials: (window_start, event_type) → count/sum."""
    return (
        batch.groupBy(
            F.window(F.col("ts"), f"{minutes} minutes")["start"].alias("window_start"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
    )


class ContinuousRollupSink:
    """foreachBatch body merging batch partials into the rollup store.

    The store is partitioned by ``bucket_id`` (epoch seconds of the window
    start), so a batch touching two hours reads and rewrites exactly two
    partition directories regardless of how much history the store holds.
    """

    def __init__(self, spark: SparkSession, store_path: str, minutes: int = 60):
        self.store = BucketedParquetStore(spark, store_path)
        self.minutes = minutes

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        def merge(rows: DataFrame, stored: DataFrame | None) -> DataFrame:
            merged = partial_rollup(rows, self.minutes)
            if stored is not None:
                merged = (
                    stored.unionByName(merged)
                    .groupBy("window_start", "event_type")
                    .agg(
                        F.sum("n_events").alias("n_events"),
                        F.sum("sum_value").alias("sum_value"),
                    )
                )
            return merged.withColumn(
                "bucket_id", F.unix_timestamp("window_start"))

        window_start = F.window(F.col("ts"), f"{self.minutes} minutes")["start"]
        apply_batch(self.store, batch_id, batch,
                    F.unix_timestamp(window_start), merge, "rollup")


def read_rollup(spark: SparkSession, store_path: str) -> DataFrame:
    """The query side: rounded, ready-to-serve bucket aggregates."""
    return BucketedParquetStore(spark, store_path).read().select(
        "window_start",
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.round("sum_value", 2).alias("total_value"),
    )

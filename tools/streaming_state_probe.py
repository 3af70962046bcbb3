"""Measure streaming state-store bounds across micro-batches (VERDICT r9 #4).

The §2.8 boundedness claims — watermarked dedup and interval-join state
evicted at the horizon, windowed-agg state ≈ open windows, HLL/CMS state ≤
groups×m rows — were argued from construction. This harness MEASURES them:
the events fixture is split into N time-ordered parquet chunks in a landing
dir, each stateful query is driven over it with ``maxFilesPerTrigger=1``
under ``Trigger.AvailableNow`` (one chunk per micro-batch, so the watermark
advances between batches exactly as in a live stream), and every batch's
``StreamingQueryProgress.stateOperators`` (numRowsTotal, memoryUsedBytes)
is recorded.

What "bounded" means per probe (asserted in tests/test_streaming_state.py):

* ``wm_dedup_unique`` — dropDuplicatesWithinWatermark keyed on
  (user_id, event_type, ts): every row is a distinct key, so WITHOUT
  eviction state would equal cumulative input (the reference's
  forever-growing Mongo unique index); WITH the 2h watermark, end-of-batch
  state is only the keys newer than the horizon — flat, a small fraction
  of cumulative rows.
* ``interval_join`` — purchases ⋈ clicks within 10 min: both sides buffer
  only rows inside watermark+band once the watermark moves.
* ``tumbling_append`` — 60-min windows, APPEND mode: closed windows leave
  the store; state ≈ windows still open at the horizon. (The registry's
  ``streaming_tumbling_rollup`` drains in complete mode for the oracle —
  complete mode retains all windows by design, so the eviction claim is
  measured here on the append twin.)
* ``hll_registers`` — state is the register table itself: ≤ groups × m
  rows NO MATTER how long the stream runs (5 event types × 1024 = 5120).
* ``cms_grid`` — ≤ depth × width = 4 × 64 = 256 rows.

Usage: python tools/streaming_state_probe.py [sf_dir] [--batches 12]
           [--out STREAMING_STATE_r10.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def build_landing(spark: SparkSession, sf_dir: str, out_dir: str,
                  n_chunks: int) -> str:
    """Split the events fixture into ``n_chunks`` time-ordered single-file
    parquet chunks under ``out_dir`` — chunk i strictly precedes chunk i+1
    in event time, and file mtimes are forced increasing so the file source
    replays them in order (one per micro-batch with maxFilesPerTrigger=1)."""
    from hierarchical_graph_db_spark.io import Catalog

    os.makedirs(out_dir, exist_ok=True)
    # single-partition global window: fine for a probe tool at fixture scale
    ev = Catalog(spark, sf_dir).events.withColumn(
        "_chunk", F.ntile(n_chunks).over(Window.orderBy("ts")))
    ev.persist()
    try:
        for i in range(1, n_chunks + 1):
            tmp = os.path.join(out_dir, f"_tmp_{i}")
            (ev.where(F.col("_chunk") == i).drop("_chunk")
             .coalesce(1).write.mode("overwrite").parquet(tmp))
            part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            dst = os.path.join(out_dir, f"chunk_{i:03d}.parquet")
            shutil.move(os.path.join(tmp, part), dst)
            shutil.rmtree(tmp)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    finally:
        ev.unpersist()
    return out_dir


def _chunk_stream(spark: SparkSession, landing: str) -> DataFrame:
    schema = spark.read.parquet(landing).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )


def probe(stream_df: DataFrame, output_mode: str) -> list[dict]:
    """Drain under AvailableNow into a memory sink and return one record per
    micro-batch: input rows + per-operator state rows/bytes."""
    name = "state_probe_" + uuid.uuid4().hex[:12]
    cp = tempfile.mkdtemp(prefix="hgdb_state_probe_cp_")
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = []
    for p in q.recentProgress:
        if p["numInputRows"] == 0 and not p.get("stateOperators"):
            continue
        out.append({
            "batch": p["batchId"],
            "input_rows": p["numInputRows"],
            "state": [
                {
                    "op": s.get("operatorName", "?"),
                    "rows": s["numRowsTotal"],
                    "mem_bytes": s["memoryUsedBytes"],
                }
                for s in p.get("stateOperators", [])
            ],
        })
    shutil.rmtree(cp, ignore_errors=True)
    return out


# ---------------------------------------------------------------- probes

def p_wm_dedup_unique(spark: SparkSession, landing: str):
    from hierarchical_graph_db_spark.streaming.streams import (
        dedup_within_watermark,
    )

    return dedup_within_watermark(
        _chunk_stream(spark, landing), ["user_id", "event_type", "ts"],
        watermark="2 hours"), "append"


def p_interval_join(spark: SparkSession, landing: str):
    from hierarchical_graph_db_spark.streaming.streams import interval_join

    ev = _chunk_stream(spark, landing)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value")
    ev2 = _chunk_stream(spark, landing)
    clicks = ev2.where(F.col("event_type") == "click").select(
        "user_id", "ts", "value")
    return interval_join(purchases, clicks, on="user_id",
                         left_cols=["value"], right_cols=["value"],
                         watermark="2 hours"), "append"


def p_tumbling_append(spark: SparkSession, landing: str):
    from hierarchical_graph_db_spark.streaming.windows import tumbling_counts

    return tumbling_counts(_chunk_stream(spark, landing), minutes=60,
                           watermark="2 hours"), "append"


def p_hll_registers(spark: SparkSession, landing: str):
    from hierarchical_graph_db_spark.operators.sketches import hll_registers

    return hll_registers(_chunk_stream(spark, landing), "user_id",
                         ["event_type"], m=1024), "complete"


def p_cms_grid(spark: SparkSession, landing: str):
    from hierarchical_graph_db_spark.operators.sketches import cms_build

    return cms_build(
        _chunk_stream(spark, landing).select(
            F.col("user_id").cast("string").alias("item")),
        "item", width=64, depth=4), "complete"


PROBES = {
    "wm_dedup_unique": p_wm_dedup_unique,
    "interval_join": p_interval_join,
    "tumbling_append": p_tumbling_append,
    "hll_registers": p_hll_registers,
    "cms_grid": p_cms_grid,
}


# -------------------------------------------------- foreachBatch sink probes
#
# VERDICT r10 next-round #5: the exactly-once DedupParquetSink / CdcParquetSink
# path had replay pytests but no MEASURED growth bound on its ledger/state
# across >=10 batches. Unlike the probes above, a foreachBatch sink's "state"
# is not Spark's state store — it is the bucketed parquet store plus its
# _meta ledger (manifest + per-batch snapshot archives + pending WAL). The
# bounds that matter:
#
# * live manifest entries  <= n_buckets — FLAT once every bucket has been
#   written, no matter how many batches run;
# * ledger (archived manifests) and version dirs grow ONE per batch by
#   design (they ARE the snapshot history / time travel), and vacuum(
#   keep_last=k) bounds them: versions <= k, version dirs <= live + k
#   generations' worth — measured below with an in-cadence vacuum;
# * store DATA rows == cumulative distinct keys (dedup) / live keys (CDC) —
#   exactly-once effects leave no duplicate rows even when every batch
#   overlaps keys with every earlier batch;
# * per-batch write cost touches only the buckets the batch's keys hash to
#   (recorded as touched_buckets).


def _dir_stats(store) -> dict:
    """Filesystem-level ledger/state metrics of a BucketedParquetStore."""
    meta_dir = os.path.join(store.path, "_meta")
    meta_files = []
    if os.path.isdir(meta_dir):
        meta_files = [os.path.join(meta_dir, f) for f in os.listdir(meta_dir)]
    version_dirs = 0
    data_bytes = 0
    if os.path.isdir(store.data_dir):
        for entry in os.listdir(store.data_dir):
            bd = os.path.join(store.data_dir, entry)
            if not os.path.isdir(bd):
                continue
            for d in os.listdir(bd):
                if d.startswith("__v="):
                    version_dirs += 1
                    vd = os.path.join(bd, d)
                    data_bytes += sum(
                        os.path.getsize(os.path.join(vd, f))
                        for f in os.listdir(vd))
    manifest = store._manifest()
    return {
        "live_manifest_entries": len(manifest["buckets"]),
        "archived_manifests": len(store.versions()),
        "meta_files": len(meta_files),
        "meta_bytes": sum(os.path.getsize(f) for f in meta_files
                          if os.path.isfile(f)),
        "version_dirs": version_dirs,
        "data_bytes": data_bytes,
    }


def probe_dedup_sink(spark: SparkSession, landing: str, workdir: str,
                     n_buckets: int = 16, vacuum_every: int | None = 4,
                     keep_last: int = 2) -> dict:
    """Drive DedupParquetSink over the landing chunks (one per micro-batch)
    recording ledger/store metrics after every batch; optional in-cadence
    vacuum. Key = user_id:event_type (heavily repeated across batches, so
    every batch exercises the merge path, not just appends)."""
    from hierarchical_graph_db_spark.streaming.ingest import (
        DedupParquetSink,
        _hash_bucket,
        read_dedup_store,
        run_available_now,
    )

    store_path = os.path.join(workdir, "dedup_store")
    sink = DedupParquetSink(spark, store_path, key="dk",
                            order_by=["event_id"], member_cols=["event_id"],
                            n_buckets=n_buckets)
    records = []

    def wrapped(batch, batch_id):
        n_in = batch.count()
        sink(batch, batch_id)
        if vacuum_every and (len(records) + 1) % vacuum_every == 0:
            sink.store.vacuum(keep_last=keep_last)
        rec = {"batch": batch_id, "input_rows": n_in,
               "touched_buckets": batch.select(
                   _hash_bucket(n_buckets, F.col("dk")).alias("b"))
               .distinct().count(),
               "store_rows": read_dedup_store(spark, store_path).count()}
        rec.update(_dir_stats(sink.store))
        records.append(rec)

    stream = _chunk_stream(spark, landing).withColumn(
        "dk", F.concat_ws(":", F.col("user_id").cast("string"),
                          F.col("event_type")))
    run_available_now(stream, wrapped,
                      os.path.join(workdir, "dedup_sink_cp"))
    expected_keys = (
        spark.read.parquet(landing)
        .select(F.concat_ws(":", F.col("user_id").cast("string"),
                            F.col("event_type")).alias("dk"))
        .distinct().count()
    )
    return {
        "n_buckets": n_buckets,
        "vacuum_every": vacuum_every, "keep_last": keep_last,
        "batches": records,
        "cumulative_input_rows": sum(r["input_rows"] for r in records),
        "expected_distinct_keys": expected_keys,
        "final_store_rows": records[-1]["store_rows"] if records else 0,
        "store_rows_equal_distinct_keys":
            bool(records) and records[-1]["store_rows"] == expected_keys,
    }


def probe_cdc_sink(spark: SparkSession, landing: str, workdir: str,
                   n_buckets: int = 16, vacuum_every: int | None = 4,
                   keep_last: int = 2) -> dict:
    """Drive CdcParquetSink over a changelog derived from the landing chunks
    (key = user_id, seq = event_id, op cycling I/U with a D slice so deletes
    exercise bucket-emptying), recording the same ledger metrics. The final
    store must equal the one-shot changelog net over all chunks."""
    from hierarchical_graph_db_spark.operators.maintenance import (
        changelog_net,
    )
    from hierarchical_graph_db_spark.streaming.ingest import (
        CdcParquetSink,
        read_cdc_store,
        run_available_now,
    )

    store_path = os.path.join(workdir, "cdc_store")
    sink = CdcParquetSink(spark, store_path, keys=["user_id"],
                          seq_col="seq", op_col="op", n_buckets=n_buckets)
    records = []

    def to_changelog(df):
        return df.select(
            "user_id",
            F.col("event_id").alias("seq"),
            F.when(F.col("event_id") % 11 == 0, "D")
            .when(F.col("event_id") % 3 == 0, "U")
            .otherwise("I").alias("op"),
            F.col("value").alias("payload"),
        )

    def wrapped(batch, batch_id):
        ch = to_changelog(batch)
        n_in = ch.count()
        sink(ch, batch_id)
        if vacuum_every and (len(records) + 1) % vacuum_every == 0:
            sink.store.vacuum(keep_last=keep_last)
        rec = {"batch": batch_id, "input_rows": n_in,
               "store_rows": read_cdc_store(spark, store_path).count()}
        rec.update(_dir_stats(sink.store))
        records.append(rec)

    run_available_now(_chunk_stream(spark, landing), wrapped,
                      os.path.join(workdir, "cdc_sink_cp"))
    oneshot = changelog_net(
        to_changelog(spark.read.parquet(landing)),
        ["user_id"], "seq", "op", carry_seq=True)
    expected_live = oneshot.where(F.col("op") != "D").count()
    return {
        "n_buckets": n_buckets,
        "vacuum_every": vacuum_every, "keep_last": keep_last,
        "batches": records,
        "cumulative_input_rows": sum(r["input_rows"] for r in records),
        "expected_live_keys": expected_live,
        "final_store_rows": records[-1]["store_rows"] if records else 0,
        "store_rows_equal_live_keys":
            bool(records) and records[-1]["store_rows"] == expected_live,
    }


SINK_PROBES = {
    "dedup_sink": probe_dedup_sink,
    "cdc_sink": probe_cdc_sink,
}


def run_all(spark: SparkSession, sf_dir: str, workdir: str,
            n_chunks: int, include_sinks: bool = True) -> dict:
    landing = build_landing(spark, sf_dir,
                            os.path.join(workdir, "landing"), n_chunks)
    results = {}
    for name, fn in PROBES.items():
        df, mode = fn(spark, landing)
        batches = probe(df, mode)
        rows = [max((s["rows"] for s in b["state"]), default=0)
                for b in batches]
        results[name] = {
            "batches": batches,
            "n_batches": len(batches),
            "cumulative_input_rows": sum(b["input_rows"] for b in batches),
            "max_state_rows": max(rows, default=0),
            "final_state_rows": rows[-1] if rows else 0,
        }
    if include_sinks:
        for name, fn in SINK_PROBES.items():
            results[name] = fn(spark, landing,
                               os.path.join(workdir, f"{name}_wd"))
    return results


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("--batches", type=int, default=12)
    ap.add_argument("--out", default="STREAMING_STATE_r10.json")
    args = ap.parse_args()

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .appName("streaming_state_probe")
        # few shuffle partitions: state stores are per-partition; the probe
        # measures row/byte bounds, not parallel throughput
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    workdir = tempfile.mkdtemp(prefix="hgdb_state_probe_")
    try:
        results = run_all(spark, args.sf_dir, workdir, args.batches)
        # Contrast run: the same dedup sink WITHOUT the vacuum cadence —
        # version dirs / archived manifests then grow one generation per
        # batch (they are the snapshot history, the documented time-travel
        # trade), which is what the vacuum bound above is cutting.
        results["dedup_sink_novacuum"] = probe_dedup_sink(
            spark, os.path.join(workdir, "landing"),
            os.path.join(workdir, "dedup_nv_wd"), vacuum_every=None)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    # VERDICT r13 #6: state bounds and per-batch cost attribution live in
    # ONE artifact — the sink probes above drove the real sinks in this
    # process, so the attribution registry holds their probe/commit rows.
    # Caveat (quoted wherever the ~3 s "fixed" commit is cited): the DEDUP
    # sink's merge compute materializes during the durable write, so its
    # commit_secs bucket includes scaling merge work; only the CDC sink's
    # probe-vs-commit split is a clean scaling-vs-fixed decomposition
    # (documented at streaming/ingest.py DedupParquetSink.__call__).
    from hierarchical_graph_db_spark.streaming.ingest import (
        sink_batch_attribution,
    )

    doc = {"sf_dir": args.sf_dir, "n_chunks": args.batches,
           "probes": results,
           "cdc_sink_attribution": sink_batch_attribution("cdc"),
           "dedup_sink_attribution": sink_batch_attribution("dedup")}
    with open(args.out, "w") as f:
        json.dump(doc, f, indent=1)
    for name, r in results.items():
        if "max_state_rows" in r:
            print(f"{name}: batches={r['n_batches']} "
                  f"cum_input={r['cumulative_input_rows']} "
                  f"max_state={r['max_state_rows']} "
                  f"final_state={r['final_state_rows']}")
        else:
            last = r["batches"][-1] if r["batches"] else {}
            print(f"{name}: batches={len(r['batches'])} "
                  f"cum_input={r['cumulative_input_rows']} "
                  f"store_rows={r['final_store_rows']} "
                  f"live_entries={last.get('live_manifest_entries')} "
                  f"version_dirs={last.get('version_dirs')} "
                  f"archived={last.get('archived_manifests')}")
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()

"""Streaming tests: watermarked windows match their batch twins; the
foreachBatch dedup sink has exactly-once effects across replays."""

from __future__ import annotations

import datetime as dt
import uuid

from pyspark.sql import Row

from hierarchical_graph_db_spark.operators.sessionize import tumbling_rollup
from hierarchical_graph_db_spark.schemas import FIXTURES
from hierarchical_graph_db_spark.streaming.ingest import (
    DedupParquetSink,
    drain_to_dataframe,
    read_dedup_store,
    run_available_now,
    stream_events,
)
from hierarchical_graph_db_spark.streaming.windows import (
    session_counts,
    sliding_counts,
    tumbling_counts,
)


def _events():
    mk = lambda i, m, u, t, v: Row(
        event_id=i, ts=dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m),
        user_id=u, event_type=t, value=v, props="{}")
    return [
        mk(1, 0, 1, "click", 1.0),
        mk(2, 10, 1, "click", 2.0),
        mk(3, 70, 2, "view", 3.0),
        mk(4, 75, 2, "view", 4.0),
    ]


def _land(spark, tmp_path):
    landing = str(tmp_path / "landing")
    spark.createDataFrame(_events(), FIXTURES["events"]) \
        .coalesce(1).write.mode("overwrite").parquet(landing)
    return landing


def _run_to_memory(spark, df, name, checkpoint):
    q = (
        df.writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def test_tumbling_window_counts(spark, tmp_path):
    landing = _land(spark, tmp_path)
    stream = stream_events(spark, landing)
    out = _run_to_memory(spark, tumbling_counts(stream, minutes=60),
                         "tumbling_t", str(tmp_path / "cp1"))
    rows = {(r["window_start"].minute + 60 * r["window_start"].hour,
             r["event_type"]): r["n_events"] for r in out.collect()}
    assert rows[(0, "click")] == 2
    assert rows[(60, "view")] == 2
    # streaming result == batch twin
    batch = tumbling_rollup(
        spark.createDataFrame(_events(), FIXTURES["events"]), "hour")
    assert {(r["window_start"].hour, r["event_type"], r["n_events"])
            for r in batch.collect()} == \
           {(0, "click", 2), (1, "view", 2)}


def test_sliding_and_session_windows_run(spark, tmp_path):
    landing = _land(spark, tmp_path)
    slid = _run_to_memory(
        spark, sliding_counts(stream_events(spark, landing), 60, 30),
        "sliding_t", str(tmp_path / "cp2"))
    # event at minute 10 appears in windows starting at -20, 10 → ≥2 windows for click
    clicks = [r for r in slid.collect() if r["event_type"] == "click"]
    assert len(clicks) >= 2
    sess = _run_to_memory(
        spark, session_counts(stream_events(spark, landing), gap_minutes=30),
        "session_t", str(tmp_path / "cp3"))
    by_user = {r["user_id"]: r["n_events"] for r in sess.collect()}
    assert by_user == {1: 2, 2: 2}


def test_watermark_drops_late_rows_across_batches(spark, tmp_path):
    """Real watermark semantics: with maxFilesPerTrigger=1 the second file is
    a second micro-batch; its too-late row (behind the watermark set by batch
    one) must NOT be added to an already-closed window, and append mode must
    only emit closed windows."""
    import os

    from pyspark.sql import functions as F
    from hierarchical_graph_db_spark.streaming.windows import tumbling_counts

    mk = lambda i, h, m, t: Row(
        event_id=i, ts=dt.datetime(2024, 1, 1, h, m), user_id=1,
        event_type=t, value=1.0, props="{}")
    landing = tmp_path / "landing"
    landing.mkdir()
    # Spark merges a late row whose window state still exists; the hard drop
    # happens once the state is evicted. So: b1 fills the 9:00 window and
    # pushes the watermark past it; b2 pushes the watermark further (state
    # for 9:00 is emitted+evicted); b3's 9:45 row is then behind an evicted
    # window and must vanish.
    batches = [
        [mk(1, 9, 30, "click"), mk(2, 10, 30, "click"), mk(3, 11, 59, "click")],
        [mk(4, 13, 30, "click")],
        [mk(5, 9, 45, "click"),    # LATE: 9:00 window already evicted
         mk(6, 14, 30, "click")],
    ]
    now = 1_700_000_000
    for i, rows in enumerate(batches):
        d = str(landing / f"b{i}")
        spark.createDataFrame(rows, FIXTURES["events"]).coalesce(1) \
            .write.mode("overwrite").parquet(d)
        for root, _, files in os.walk(d):   # batch order = file mod time
            for f in files:
                os.utime(os.path.join(root, f), (now + i * 100, now + i * 100))

    stream = (
        spark.readStream.schema(FIXTURES["events"])
        .option("maxFilesPerTrigger", "1")
        .parquet(str(landing) + "/*")
    )
    agg = tumbling_counts(stream, minutes=60, watermark="1 hour")
    q = (
        agg.writeStream.format("memory").queryName("wm_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cp_wm"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("wm_t").collect()
    hours = [r["window_start"].hour for r in rows]
    out = {r["window_start"].hour: r["n_events"] for r in rows}
    # the 9:00 window closed with ONE event; the late 9:45 row (arriving
    # after eviction) was dropped and did not re-emit the group
    assert hours.count(9) == 1 and out[9] == 1
    # the 14:00 window never closed (watermark 13:30 at end) → not emitted
    assert 14 not in out


def test_dedup_sink_exactly_once_effects(spark, tmp_path):
    landing = str(tmp_path / "landing")
    dups = [
        Row(key="k1", payload="first", src="a"),
        Row(key="k1", payload="later", src="b"),
        Row(key="k2", payload="solo", src="c"),
    ]
    spark.createDataFrame(dups).coalesce(1).write.mode("overwrite").parquet(landing)

    store = str(tmp_path / "store")
    sink = DedupParquetSink(spark, store, key="key",
                            order_by=["src"], member_cols=["src"])
    stream = (
        spark.readStream.schema("key string, payload string, src string")
        .parquet(landing)
    )
    run_available_now(stream, sink, str(tmp_path / "cp4"))
    first = {(r["dedupe_key"], r["payload"],
              frozenset(m["src"] for m in r["members"]))
             for r in read_dedup_store(spark, store).collect()}
    assert first == {("k1", "first", frozenset({"a", "b"})),
                     ("k2", "solo", frozenset({"c"}))}

    # redelivery under a NEW batch id (at-least-once) → store unchanged
    batch = spark.read.parquet(landing)
    sink(batch, batch_id=99)
    again = {(r["dedupe_key"], r["payload"],
              frozenset(m["src"] for m in r["members"]))
             for r in read_dedup_store(spark, store).collect()}
    assert again == first

    # true replay (already-committed batch id) is skipped outright
    sink(batch, batch_id=0)
    assert {(r["dedupe_key"], r["payload"],
             frozenset(m["src"] for m in r["members"]))
            for r in read_dedup_store(spark, store).collect()} == first


def test_dedup_sink_restart_merges_existing_store(spark, tmp_path):
    """A FRESH sink instance pointed at an existing store must merge into
    it, not clobber it — initialization is derived from the store path,
    never from instance state."""
    store = str(tmp_path / "store")
    first = DedupParquetSink(spark, store, key="key",
                             order_by=["src"], member_cols=["src"])
    first(spark.createDataFrame([Row(key="k1", payload="orig", src="a")]),
          batch_id=0)

    restarted = DedupParquetSink(spark, store, key="key",
                                 order_by=["src"], member_cols=["src"])
    restarted(spark.createDataFrame([
        Row(key="k1", payload="late-dup", src="b"),
        Row(key="k3", payload="fresh", src="c"),
    ]), batch_id=1)

    out = {r["dedupe_key"]: (r["payload"],
                             frozenset(m["src"] for m in r["members"]))
           for r in read_dedup_store(spark, store).collect()}
    assert out == {"k1": ("orig", frozenset({"a", "b"})),
                   "k3": ("fresh", frozenset({"c"}))}


def test_dedup_sink_never_collects_store(spark, tmp_path):
    """The scale contract: no driver-side materialization of store state.
    Source inspection — the sinks' shared skeleton and the store must
    contain no collect() over store data (the only collect is the distinct
    bucket-id list), and no sink collects anything of its own."""
    import inspect

    from hierarchical_graph_db_spark.streaming import store as store_mod
    from hierarchical_graph_db_spark.streaming.continuous_aggregate import (
        ContinuousRollupSink,
    )
    from hierarchical_graph_db_spark.streaming.ingest import (
        CdcParquetSink,
        apply_batch,
    )

    skeleton_src = inspect.getsource(apply_batch)
    assert skeleton_src.count(".collect()") == 1       # bucket-id list only
    assert "createDataFrame" not in skeleton_src
    for sink_cls in (DedupParquetSink, CdcParquetSink, ContinuousRollupSink):
        assert ".collect()" not in inspect.getsource(sink_cls)
    store_src = inspect.getsource(store_mod)
    assert ".collect()" not in store_src
    # the only createDataFrame is the zero-row empty-schema frame for reads
    # that select no live bucket — never a materialization of store rows
    assert store_src.count("createDataFrame") == 1
    assert "createDataFrame([], schema)" in store_src


def test_dedup_sink_rewrites_only_touched_buckets(spark, tmp_path):
    """Bucket-scoped rewrite: a batch whose keys land in one bucket must not
    rewrite the other buckets' files."""
    import os

    store = str(tmp_path / "store")
    sink = DedupParquetSink(spark, store, key="key",
                            order_by=["src"], member_cols=["src"],
                            n_buckets=8)
    seed = [Row(key=f"k{i}", payload=f"p{i}", src="a") for i in range(32)]
    sink(spark.createDataFrame(seed), batch_id=0)

    def bucket_files(data):
        out = {}
        for d in os.listdir(data):
            if not d.startswith("bucket_id="):
                continue
            files = []
            for root, _, names in os.walk(os.path.join(data, d)):
                for f in sorted(names):
                    if f.endswith(".parquet"):
                        p = os.path.join(root, f)
                        files.append((os.path.relpath(p, data),
                                      os.path.getmtime(p)))
            out[d] = sorted(files)
        return out

    data = os.path.join(store, "data")
    before = bucket_files(data)
    assert len(before) > 1  # seed spread over several buckets

    sink(spark.createDataFrame([Row(key="k0", payload="dup", src="b")]),
         batch_id=1)
    after = bucket_files(data)
    touched = sum(1 for d, snap in before.items() if after[d] != snap)
    assert touched == 1  # exactly the bucket containing k0


def test_store_crash_between_moves_and_swap_is_invisible(spark, tmp_path,
                                                         monkeypatch):
    """Manifest-pointer publish: a crash AFTER the new version dirs land but
    BEFORE the single manifest swap leaves readers on the old, fully
    consistent state (the round-2 verdict's kill-between-renames scenario —
    the previous per-bucket-rename publish had a half-published window
    here). Replay then completes the publish from pending + moved dirs."""
    import pytest

    from hierarchical_graph_db_spark.streaming.store import BucketedParquetStore

    path = str(tmp_path / "st")
    store = BucketedParquetStore(spark, path)
    store.commit(0, spark.createDataFrame(
        [(0, "a"), (1, "b")], "bucket_id int, val string"), write_partitions=2)
    v0 = {(r["bucket_id"], r["val"]) for r in store.read().collect()}
    assert v0 == {(0, "a"), (1, "b")}

    orig = BucketedParquetStore._write_json

    def crash_on_swap(self, name, payload):
        if name == "manifest.json":
            raise RuntimeError("killed before the swap")
        return orig(self, name, payload)

    monkeypatch.setattr(BucketedParquetStore, "_write_json", crash_on_swap)
    with pytest.raises(RuntimeError, match="killed"):
        store.commit(1, spark.createDataFrame(
            [(0, "a2"), (1, "b2")], "bucket_id int, val string"),
                write_partitions=2)
    monkeypatch.setattr(BucketedParquetStore, "_write_json", orig)

    # a fresh reader sees batch 0 exactly — never a mix of old and new
    fresh = BucketedParquetStore(spark, path)
    assert fresh.committed_batch_id() == 0
    assert {(r["bucket_id"], r["val"])
            for r in fresh.read().collect()} == v0

    # replay finishes the publish (moves are idempotent, swap is redone)
    assert fresh.already_done(1)
    assert fresh.committed_batch_id() == 1
    assert {(r["bucket_id"], r["val"])
            for r in fresh.read().collect()} == {(0, "a2"), (1, "b2")}


def test_dedup_sink_batch_touching_only_new_buckets(spark, tmp_path):
    """A micro-batch whose keys ALL hash to buckets the store has never
    written must merge cleanly (round-4 advice, high: the manifest-filtered
    read used to produce zero paths → UNABLE_TO_INFER_SCHEMA and a crashed
    stream; the store now returns an empty typed frame)."""
    import os

    from pyspark.sql import functions as F

    from hierarchical_graph_db_spark.streaming.ingest import read_dedup_store

    store = str(tmp_path / "store")
    sink = DedupParquetSink(spark, store, key="key",
                            order_by=["src"], member_cols=["src"],
                            n_buckets=8)
    sink(spark.createDataFrame([Row(key="k0", payload="p", src="a")]),
         batch_id=0)

    data = os.path.join(store, "data")
    seen = {d for d in os.listdir(data) if d.startswith("bucket_id=")}
    # pick candidate keys until one lands outside every seen bucket
    cands = spark.createDataFrame([(f"n{i}",) for i in range(64)],
                                  "key string")
    buckets = {r["key"]: r["b"] for r in cands.select(
        "key", F.pmod(F.xxhash64("key"), F.lit(8)).cast("int").alias("b")
    ).collect()}
    seen_ids = {int(d.split("=")[1]) for d in seen}
    fresh_key = next(k for k, b in buckets.items() if b not in seen_ids)

    sink(spark.createDataFrame(
        [Row(key=fresh_key, payload="q", src="b")]), batch_id=1)
    rows = {(r["dedupe_key"], r["payload"])
            for r in read_dedup_store(spark, store).collect()}
    assert rows == {("k0", "p"), (fresh_key, "q")}


def test_store_read_schema_survives_inference_conf(spark, tmp_path):
    """The bucket column's dtype is pinned in the manifest at commit, so
    ``read()`` returns the committed schema even in a session that disables
    partition-directory type inference (the round-4 wart: inference-off
    sessions silently read int buckets back as strings)."""
    from hierarchical_graph_db_spark.streaming.store import BucketedParquetStore

    store = BucketedParquetStore(spark, str(tmp_path / "st"))
    store.commit(0, spark.createDataFrame(
        [(0, "a"), (1, "b")], "bucket_id int, val string"), write_partitions=2)

    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    orig = spark.conf.get(key)
    try:
        for setting in ("true", "false"):
            spark.conf.set(key, setting)
            df = store.read()
            assert dict(df.dtypes)["bucket_id"] == "int", setting
            assert {(r["bucket_id"], r["val"]) for r in df.collect()} == \
                {(0, "a"), (1, "b")}
    finally:
        spark.conf.set(key, orig)


def test_store_read_unseen_buckets_returns_empty(spark, tmp_path):
    """A bucket filter selecting only never-written buckets returns an empty
    frame with the store schema — not UNABLE_TO_INFER_SCHEMA. This is the
    micro-batch-touches-only-new-buckets path in DedupParquetSink/
    ContinuousAggregate (round-4 advice, high)."""
    from hierarchical_graph_db_spark.streaming.store import BucketedParquetStore

    store = BucketedParquetStore(spark, str(tmp_path / "st"))
    store.commit(0, spark.createDataFrame(
        [(0, "a")], "bucket_id int, val string"), write_partitions=1)
    df = store.read(buckets=[7, 9])
    assert df.count() == 0
    assert df.schema == store.read().schema


def test_store_vacuum_spares_uncommitted_version_dirs(spark, tmp_path,
                                                      monkeypatch):
    """vacuum() running between a crashed publish (dirs moved, manifest not
    swapped) and its replay must not delete the moved-but-uncommitted
    version dirs — otherwise the batch's merged rows are unrecoverable
    (round-4 advice, medium)."""
    import pytest

    from hierarchical_graph_db_spark.streaming.store import BucketedParquetStore

    path = str(tmp_path / "st")
    store = BucketedParquetStore(spark, path)
    store.commit(0, spark.createDataFrame(
        [(0, "a"), (1, "b")], "bucket_id int, val string"), write_partitions=2)

    orig = BucketedParquetStore._write_json

    def crash_on_swap(self, name, payload):
        if name == "manifest.json":
            raise RuntimeError("killed before the swap")
        return orig(self, name, payload)

    monkeypatch.setattr(BucketedParquetStore, "_write_json", crash_on_swap)
    with pytest.raises(RuntimeError, match="killed"):
        store.commit(1, spark.createDataFrame(
            [(0, "a2"), (1, "b2")], "bucket_id int, val string"),
                write_partitions=2)
    monkeypatch.setattr(BucketedParquetStore, "_write_json", orig)

    fresh = BucketedParquetStore(spark, path)
    fresh.vacuum(keep_last=1)  # maintenance fires before the replay

    # replay still completes and the batch's rows survived the vacuum
    assert fresh.already_done(1)
    assert {(r["bucket_id"], r["val"]) for r in fresh.read().collect()} == \
        {(0, "a2"), (1, "b2")}


def test_store_legacy_pending_without_entries_not_replayable(spark, tmp_path):
    """A pre-upgrade pending.json ({"batch_id": N} only) falls through to
    "redo the batch" instead of raising KeyError (round-4 advice, low)."""
    from hierarchical_graph_db_spark.streaming.store import BucketedParquetStore

    store = BucketedParquetStore(spark, str(tmp_path / "st"))
    store.commit(0, spark.createDataFrame(
        [(0, "a")], "bucket_id int, val string"), write_partitions=1)
    store._write_json("pending.json", {"batch_id": 1})  # legacy shape
    assert store.already_done(1) is False  # not a KeyError
    # redoing the batch converges normally
    store.commit(1, spark.createDataFrame(
        [(0, "a2")], "bucket_id int, val string"), write_partitions=1)
    assert {(r["bucket_id"], r["val"]) for r in store.read().collect()} == \
        {(0, "a2")}


def test_dedup_within_watermark_across_batches(spark, tmp_path):
    """Cross-batch streaming dedup: a key's duplicate arriving in a LATER
    micro-batch while its state is inside the watermark horizon emits
    nothing new; distinct keys each emit exactly once."""
    import os

    from hierarchical_graph_db_spark.streaming.streams import dedup_within_watermark

    mk = lambda i, h, u, t: Row(
        event_id=i, ts=dt.datetime(2024, 1, 1, h), user_id=u,
        event_type=t, value=1.0, props="{}")
    landing = tmp_path / "landing"
    landing.mkdir()
    batches = [
        [mk(1, 9, 1, "click"), mk(2, 9, 2, "view")],
        [mk(3, 10, 1, "click"),   # duplicate key (1, click) → suppressed
         mk(4, 10, 3, "click")],  # new key → emitted
    ]
    now = 1_700_000_000
    for i, rows in enumerate(batches):
        d = str(landing / f"b{i}")
        spark.createDataFrame(rows, FIXTURES["events"]).coalesce(1) \
            .write.mode("overwrite").parquet(d)
        for root, _, files in os.walk(d):
            for f in files:
                os.utime(os.path.join(root, f), (now + i * 100, now + i * 100))

    stream = (
        spark.readStream.schema(FIXTURES["events"])
        .option("maxFilesPerTrigger", "1")
        .parquet(str(landing) + "/*")
    )
    out = dedup_within_watermark(stream, ["user_id", "event_type"],
                                 watermark="4 hours")
    q = (
        out.writeStream.format("memory").queryName("ddw_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cp_ddw"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted((r["user_id"], r["event_type"])
                 for r in spark.table("ddw_t").collect())
    assert got == [(1, "click"), (2, "view"), (3, "click")]


def test_streaming_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream band join equals the batch interval join on the same
    bounded input."""
    from pyspark.sql import functions as F

    from hierarchical_graph_db_spark.streaming.streams import interval_join

    mk = lambda i, m, u, t: Row(
        event_id=i, ts=dt.datetime(2024, 1, 1, 9, m), user_id=u,
        event_type=t, value=float(i), props="{}")
    rows = [
        mk(1, 0, 1, "click"), mk(2, 5, 1, "purchase"),   # click 5m before ✓
        mk(3, 30, 1, "purchase"),                        # click 30m before ✗
        mk(4, 10, 2, "purchase"),                        # other user, no click
        mk(5, 12, 1, "click"),                           # click AFTER p2 ✗
    ]
    landing = str(tmp_path / "landing_ij")
    spark.createDataFrame(rows, FIXTURES["events"]).coalesce(1) \
        .write.mode("overwrite").parquet(landing)
    stream = spark.readStream.schema(FIXTURES["events"]).parquet(landing)
    purchases = stream.where(F.col("event_type") == "purchase") \
        .select("user_id", "ts", "value")
    clicks = stream.where(F.col("event_type") == "click") \
        .select("user_id", "ts", "value")
    out = interval_join(purchases, clicks, on="user_id",
                        left_cols=["value"], right_cols=["value"])
    q = (
        out.writeStream.format("memory").queryName("ij_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cp_ij"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = [(int(r["value"]), int(r["value_r"]))
           for r in spark.table("ij_t").collect()]
    assert got == [(2, 1)]  # only purchase#2 pairs with click#1


def test_outer_interval_join_watermark_eviction_boundary(spark, tmp_path):
    """Left-outer stream-stream join drain semantics, pinned exactly: an
    unmatched left row emits null-joined iff its event time is STRICTLY
    below the final global watermark min(max left ts, max right ts). A row
    AT the boundary and a row above it stay in state (never emitted); a row
    below it emits. The streaming_interval_join_outer oracle encodes this
    predicate — this test is what licenses it."""
    from hierarchical_graph_db_spark.streaming.ingest import drain_to_dataframe
    from hierarchical_graph_db_spark.streaming.streams import interval_join

    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        Row(user_id=1, ts=t, value=1.0, side="p"),  # ts == watermark: held
        Row(user_id=2, ts=t - dt.timedelta(hours=3), value=2.0,
            side="p"),                               # below: emits
        Row(user_id=3, ts=t, value=3.0, side="c"),   # fixes max right ts
        Row(user_id=9, ts=t + dt.timedelta(hours=1), value=9.0,
            side="p"),                               # above: held
    ]
    d = str(tmp_path / "in")
    spark.createDataFrame(rows).write.parquet(d)
    s = spark.readStream.schema(
        "user_id long, ts timestamp, value double, side string").parquet(d)
    out = drain_to_dataframe(
        interval_join(s.where("side = 'p'").select("user_id", "ts", "value"),
                      s.where("side = 'c'").select("user_id", "ts", "value"),
                      on="user_id", left_cols=["value"],
                      right_cols=["value"], watermark="0 seconds",
                      how="left_outer"),
        output_mode="append",
    )
    got = [(r["user_id"], r["ts_r"]) for r in out.collect()]
    assert got == [(2, None)]


def test_full_outer_interval_join_eviction_boundaries(spark, tmp_path):
    """Full-outer drain semantics, both sides pinned: an unmatched RIGHT
    row emits iff its last possible match time (c.ts + band) is strictly
    below the final watermark; boundary rows on either side stay in state.
    Licenses the streaming_interval_join_full_outer oracle."""
    from hierarchical_graph_db_spark.streaming.ingest import drain_to_dataframe
    from hierarchical_graph_db_spark.streaming.streams import interval_join

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    band = dt.timedelta(minutes=10)
    rows = [
        Row(user_id=1, ts=t0, value=1.0, side="c"),   # c.ts+band == wm: held
        Row(user_id=2, ts=t0 - dt.timedelta(hours=3), value=2.0,
            side="c"),                                # well below: emits
        Row(user_id=3, ts=t0 + band, value=3.0, side="c"),  # max_c
        Row(user_id=4, ts=t0 + band, value=4.0, side="p"),  # max_p == wm: held
    ]
    d = str(tmp_path / "in")
    spark.createDataFrame(rows).write.parquet(d)
    s = spark.readStream.schema(
        "user_id long, ts timestamp, value double, side string").parquet(d)
    out = drain_to_dataframe(
        interval_join(s.where("side = 'p'").select("user_id", "ts", "value"),
                      s.where("side = 'c'").select("user_id", "ts", "value"),
                      on="user_id", left_cols=["value"],
                      right_cols=["value"], watermark="0 seconds",
                      how="full_outer"),
        output_mode="append",
    )
    got = [(r["user_id"], r["ts"], r["ts_r"]) for r in out.collect()]
    # only the clearly-below-watermark click emits; its key survives the
    # coalesced projection even though the left side is null
    assert got == [(2, None, t0 - dt.timedelta(hours=3))]


def test_dedup_sink_empty_first_batch_does_not_poison_store(spark, tmp_path):
    """An all-filtered first micro-batch must not create an empty store dir
    (which would break schema inference for every later batch); the next
    non-empty batch initializes the store normally."""
    store = str(tmp_path / "store_empty_first")
    sink = DedupParquetSink(spark, store, key="key",
                            order_by=["src"], member_cols=["src"])
    empty = spark.createDataFrame([], "key string, payload string, src string")
    sink(empty, batch_id=0)

    batch = spark.createDataFrame([Row(key="k1", payload="p", src="a")])
    sink(batch, batch_id=1)
    rows = read_dedup_store(spark, store).collect()
    assert [(r["dedupe_key"], r["payload"]) for r in rows] == [("k1", "p")]


def test_store_read_schema_evolution_null_fills(spark, tmp_path):
    """A later commit pins a schema with a column older untouched buckets'
    files lack: read() must surface the union — real values from buckets
    that have the column, nulls (not a KeyError) from those that don't
    (round-5 advice, low)."""
    from hierarchical_graph_db_spark.streaming.store import BucketedParquetStore

    store = BucketedParquetStore(spark, str(tmp_path / "st"))
    store.commit(0, spark.createDataFrame(
        [(0, "a"), (1, "b")], "bucket_id int, val string"), write_partitions=2)
    # batch 1 evolves the schema but touches only bucket 1
    store.commit(1, spark.createDataFrame(
        [(1, "b2", "x")], "bucket_id int, val string, extra string"),
            write_partitions=1)
    rows = {(r["bucket_id"], r["val"], r["extra"])
            for r in store.read().collect()}
    assert rows == {(0, "a", None), (1, "b2", "x")}
    assert [f.name for f in store.read().schema.fields] == \
        ["bucket_id", "val", "extra"]


def test_store_vacuum_reaps_expired_orphans(spark, tmp_path, monkeypatch):
    """Version dirs above the commit point that pending.json does NOT name
    can never be replayed (already_done needs pending entries + scratch
    _SUCCESS): vacuum keeps them within the orphan TTL (in-flight safety)
    but reaps them once expired — no permanent leak (round-5 advice, low)."""
    import os

    import pytest

    from hierarchical_graph_db_spark.streaming.store import BucketedParquetStore

    path = str(tmp_path / "st")
    store = BucketedParquetStore(spark, path)
    store.commit(0, spark.createDataFrame(
        [(0, "a"), (1, "b")], "bucket_id int, val string"), write_partitions=2)

    orig = BucketedParquetStore._write_json

    def crash_before_archive(self, name, payload):
        # dirs already moved, but neither the b1 archive nor the live
        # manifest gets written — v=1 is referenced by nothing
        if name.startswith("manifest"):
            raise RuntimeError("killed before the swap")
        return orig(self, name, payload)

    monkeypatch.setattr(BucketedParquetStore, "_write_json",
                        crash_before_archive)
    with pytest.raises(RuntimeError, match="killed"):
        store.commit(1, spark.createDataFrame(
            [(0, "a2"), (1, "b2")], "bucket_id int, val string"),
                write_partitions=2)
    monkeypatch.setattr(BucketedParquetStore, "_write_json", orig)

    # the crash's replay state is lost (checkpoint deleted / pending gone)
    os.remove(os.path.join(path, "_meta", "pending.json"))
    fresh = BucketedParquetStore(spark, path)
    orphans = [d for b in ("bucket_id=0", "bucket_id=1")
               for d in os.listdir(os.path.join(path, "data", b))
               if d.endswith("__v=1") or d == "__v=1"]

    fresh.vacuum(keep_last=1)  # default TTL: fresh orphans survive
    assert any(
        os.path.isdir(os.path.join(path, "data", b, d))
        for b in ("bucket_id=0", "bucket_id=1")
        for d in os.listdir(os.path.join(path, "data", b))) or orphans

    reaped = fresh.vacuum(keep_last=1, orphan_ttl_s=0.0)
    assert reaped >= 2  # both buckets' v1 orphans gone
    # committed contents untouched
    assert {(r["bucket_id"], r["val"]) for r in fresh.read().collect()} == \
        {(0, "a"), (1, "b")}


def test_streaming_hll_registers_incremental_equals_batch(spark, tmp_path):
    """Three micro-batches of disjoint-ish users must leave the streaming
    state store with registers BIT-IDENTICAL to the batch sketch over the
    union (register max is associative) — the bounded-state continuous
    distinct-count contract behind streaming_hll_distinct."""
    import os

    from hierarchical_graph_db_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )

    mk = lambda i, u, t: Row(
        event_id=i, ts=dt.datetime(2024, 1, 1, 9, i % 60), user_id=u,
        event_type=t, value=1.0, props="{}")
    rows = [mk(i, (i * 7) % 40, "click" if i % 3 else "view")
            for i in range(120)]
    landing = tmp_path / "landing"
    landing.mkdir()
    now = 1_700_000_000
    for b in range(3):
        d = str(landing / f"b{b}")
        spark.createDataFrame(rows[b * 40:(b + 1) * 40], FIXTURES["events"]) \
            .coalesce(1).write.mode("overwrite").parquet(d)
        for root, _, files in os.walk(d):
            for f in files:
                os.utime(os.path.join(root, f), (now + b * 100, now + b * 100))

    stream = (
        spark.readStream.schema(FIXTURES["events"])
        .option("maxFilesPerTrigger", "1")
        .parquet(str(landing) + "/*")
    )
    streamed = drain_to_dataframe(
        hll_registers(stream, "user_id", ["event_type"], m=256))
    batch = spark.createDataFrame(rows, FIXTURES["events"])
    expected = hll_registers(batch, "user_id", ["event_type"], m=256)
    got = {(r["event_type"], r["reg"]): r["m_j"] for r in streamed.collect()}
    want = {(r["event_type"], r["reg"]): r["m_j"] for r in expected.collect()}
    assert got == want
    # and the folded estimates agree bit-for-bit too
    est_s = {r["event_type"]: r["est_users"]
             for r in hll_estimate(streamed, ["event_type"], m=256).collect()}
    est_b = {r["event_type"]: r["est_users"]
             for r in hll_estimate(expected, ["event_type"], m=256).collect()}
    assert est_s == est_b


def test_store_time_travel_reads_archived_snapshots(spark, tmp_path):
    """read(as_of=batch_id) resolves the archived manifest of that commit:
    each committed batch stays a readable snapshot (Delta-style time
    travel) until vacuumed, and an uncommitted id raises."""
    import pytest

    from hierarchical_graph_db_spark.streaming.store import (
        BucketedParquetStore,
    )

    store = BucketedParquetStore(spark, str(tmp_path / "st"), "b")
    df1 = spark.createDataFrame([(0, "k1", "v1"), (1, "k2", "v1")],
                                "b: int, k: string, payload: string")
    store.commit(0, df1, write_partitions=2)
    df2 = spark.createDataFrame([(0, "k1", "v2")],
                                "b: int, k: string, payload: string")
    store.commit(1, df2, write_partitions=1)

    live = {(r["k"], r["payload"]) for r in store.read().collect()}
    assert live == {("k1", "v2"), ("k2", "v1")}
    old = {(r["k"], r["payload"]) for r in store.read(as_of=0).collect()}
    assert old == {("k1", "v1"), ("k2", "v1")}
    assert {(r["k"], r["payload"])
            for r in store.read(as_of=1).collect()} == live
    with pytest.raises(ValueError):
        store.read(as_of=7)
    # vacuum keeping only the latest snapshot retires batch 0's dirs;
    # the live read is untouched
    store.vacuum(keep_last=1)
    assert {(r["k"], r["payload"])
            for r in store.read().collect()} == live


def test_streaming_incremental_dedup_equals_batch(spark):
    """The stream-static index probe and the batch index probe are twins:
    same candidates (identical band keys), same verification, same output
    contract — drift between them is a correctness bug even when each
    passes its own oracle."""
    from hierarchical_graph_db_spark.queries.dedup import dedup_incremental_lsh
    from hierarchical_graph_db_spark.queries.streamingq import (
        streaming_incremental_dedup,
    )

    sf = "/root/testdata/sf0.001"
    batch = {r["doc_id"]: (r["dup_of"], r["best_jaccard"], r["is_duplicate"])
             for r in dedup_incremental_lsh(spark, sf).collect()}
    stream = {r["doc_id"]: (r["dup_of"], r["best_jaccard"], r["is_duplicate"])
              for r in streaming_incremental_dedup(spark, sf).collect()}
    assert batch == stream


def test_store_emptied_bucket_crash_between_moves_and_swap(spark, tmp_path,
                                                           monkeypatch):
    """Fault injection for the emptied-bucket commit path (VERDICT r13 #4).
    Batch 1 is a CDC-style commit that rewrites bucket 0 AND empties
    bucket 1 (zero post-merge rows — only the ``emptied`` manifest drop
    can express that). Kill the publish after the version-dir moves but
    BEFORE the manifest swap, then check the full recovery contract:

    * a fresh reader still sees batch 0 exactly (bucket 1 alive) — the
      moved dirs are invisible until the swap;
    * ``pending.json`` carries the emptied entry, so the replay does not
      depend on recomputing which buckets went empty;
    * vacuum running in the crash window spares the moved-but-unpublished
      dirs (they are batch 1's only durable copy);
    * ``already_done`` replays to the SAME manifest a clean commit would
      have produced: bucket 1's live pointer dropped at the same atomic
      swap, its final pre-delete state still time-travelable at as_of=0.
    """
    import pytest

    from hierarchical_graph_db_spark.streaming.store import (
        BucketedParquetStore,
    )

    path = str(tmp_path / "st")
    store = BucketedParquetStore(spark, path)
    store.commit(0, spark.createDataFrame(
        [(0, "a"), (1, "b")], "bucket_id int, val string"), write_partitions=2)

    orig = BucketedParquetStore._write_json

    def crash_on_swap(self, name, payload):
        if name == "manifest.json":
            raise RuntimeError("killed before the swap")
        return orig(self, name, payload)

    monkeypatch.setattr(BucketedParquetStore, "_write_json", crash_on_swap)
    with pytest.raises(RuntimeError, match="killed"):
        # bucket 0 rewritten, bucket 1 deleted down to zero rows
        store.commit(1, spark.createDataFrame(
            [(0, "a2")], "bucket_id int, val string"),
            all_touched=[0, 1], write_partitions=2)
    monkeypatch.setattr(BucketedParquetStore, "_write_json", orig)

    fresh = BucketedParquetStore(spark, path)
    # crash window: batch 0 fully intact, nothing half-published
    assert fresh.committed_batch_id() == 0
    assert {(r["bucket_id"], r["val"]) for r in fresh.read().collect()} == \
        {(0, "a"), (1, "b")}
    # the emptied entry survived into the write-ahead marker
    pending = fresh._read_json("pending.json")
    assert pending["batch_id"] == 1
    assert pending["emptied"] == ["bucket_id=1"]

    # maintenance fires inside the crash window, with the orphan TTL
    # zeroed so the age guard can't be what spares anything: the moved v1
    # dir survives because pending.json names it (and the archived b1
    # manifest references it — both guards hold in this window). keep_last
    # stays 2 so batch 0's snapshot archive outlives the vacuum.
    import os
    v1_dir = os.path.join(path, "data", "bucket_id=0", "__v=1")
    assert os.path.isdir(v1_dir)
    fresh.vacuum(keep_last=2, orphan_ttl_s=0.0)
    assert os.path.isdir(v1_dir)

    # replay lands on the same emptied manifest a clean commit produces
    assert fresh.already_done(1)
    assert fresh.committed_batch_id() == 1
    assert "bucket_id=1" not in fresh._manifest()["buckets"]
    assert {(r["bucket_id"], r["val"]) for r in fresh.read().collect()} == \
        {(0, "a2")}
    # … and the pre-delete state remains a readable snapshot
    assert {(r["bucket_id"], r["val"])
            for r in fresh.read(as_of=0).collect()} == {(0, "a"), (1, "b")}
    # replay of the replay is a no-op skip, not a second publish
    assert fresh.already_done(1)


def _group_jobs(sc, group):
    """Ids of the jobs run under job group ``group``, ascending."""
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def test_dedup_store_fixed_spark_work_per_call(spark, tmp_path):
    """Host-independent counts of the store's fixed Spark work: a keyed
    lookup over a store with 64 live buckets is ONE job (no parallel
    file-listing job in front of the scan), and a sink batch writes one
    parquet file per touched bucket from at most one task per core."""
    import glob
    import os

    from pyspark.sql import functions as F

    from hierarchical_graph_db_spark.streaming.store import BucketedParquetStore

    sc = spark.sparkContext
    store = str(tmp_path / "store")
    sink = DedupParquetSink(spark, store, key="key",
                            order_by=["src"], member_cols=["src"])
    sink(spark.createDataFrame(
        [Row(key=f"k{i}", payload=f"p{i}", src="a") for i in range(1000)]),
        batch_id=0)
    manifest = BucketedParquetStore(spark, store)._manifest()
    assert len(manifest["buckets"]) == 64

    try:
        sc.setJobGroup("store-lookup", "keyed lookup")
        rows = read_dedup_store(spark, store) \
            .where(F.col("dedupe_key") == "k7").collect()
        assert [r["payload"] for r in rows] == ["p7"]
        jobs = _group_jobs(sc, "store-lookup")
        assert len(jobs) == 1, jobs

        sc.setJobGroup("store-sink", "sink batch")
        sink(spark.createDataFrame(
            [Row(key=f"k{i}", payload=f"q{i}", src="b")
             for i in range(500, 1500)]), batch_id=1)
        jobs = _group_jobs(sc, "store-sink")
    finally:
        sc._jsc.clearJobGroup()

    manifest = BucketedParquetStore(spark, store)._manifest()
    touched = [e for e, v in manifest["buckets"].items() if v == 1]
    assert len(touched) == 64
    for entry in touched:
        files = glob.glob(os.path.join(store, "data", entry, "__v=1",
                                       "*.parquet"))
        assert len(files) == 1, (entry, files)
    # the commit's write is the sink's last job; its result stage (the
    # highest stage id of that job) is the stage that writes the files
    tracker = sc.statusTracker()
    write_stage = max(tracker.getJobInfo(jobs[-1]).stageIds)
    write_tasks = tracker.getStageInfo(write_stage).numTasks
    assert write_tasks <= sc.defaultParallelism, write_tasks


def _call_jobs(sc, sink, batch, batch_id):
    """Ids of the Spark jobs one ``sink(batch, batch_id)`` call runs."""
    group = f"sink-call-{uuid.uuid4().hex[:8]}"
    try:
        sc.setJobGroup(group, "one sink call")
        sink(batch, batch_id)
        return _group_jobs(sc, group)
    finally:
        sc._jsc.clearJobGroup()


def test_sink_fixed_spark_jobs_per_call(spark, tmp_path):
    """Per-call job counts of the three bucketed-store sinks at the suite's
    4 shuffle partitions: a fresh-store call, a call against an existing
    store, and (dedup) a true replay, which runs no job at all."""
    from hierarchical_graph_db_spark.streaming.continuous_aggregate import (
        ContinuousRollupSink,
    )
    from hierarchical_graph_db_spark.streaming.ingest import CdcParquetSink

    sc = spark.sparkContext
    dedup = DedupParquetSink(spark, str(tmp_path / "dedup"), key="key",
                             order_by=["src"], member_cols=["src"])
    mails = lambda lo, hi, src: spark.createDataFrame(  # noqa: E731
        [Row(key=f"k{i}", payload=f"p{i}", src=src) for i in range(lo, hi)])
    first = mails(0, 200, "a")
    assert len(_call_jobs(sc, dedup, first, 0)) <= 4
    assert len(_call_jobs(sc, dedup, mails(100, 300, "b"), 1)) <= 7
    assert _call_jobs(sc, dedup, first, 0) == []

    cdc = CdcParquetSink(spark, str(tmp_path / "cdc"), keys=["k"])
    changes = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "k bigint, seq int, op string, grp string, m bigint")
    assert len(_call_jobs(sc, cdc, changes(
        [(k, 1, "I", "a", k) for k in range(50)]), 0)) <= 5
    assert len(_call_jobs(sc, cdc, changes(
        [(k, 2, "U" if k % 2 else "D", "b", k) for k in range(25, 75)]),
        1)) <= 7

    rollup = ContinuousRollupSink(spark, str(tmp_path / "rollup"))
    events = lambda hours: spark.createDataFrame(  # noqa: E731
        [Row(event_id=i, ts=dt.datetime(2024, 1, 1, h, 5), user_id=1,
             event_type="click", value=1.0, props="{}")
         for i, h in enumerate(hours)], FIXTURES["events"])
    assert len(_call_jobs(sc, rollup, events([9, 10]), 0)) <= 4
    assert len(_call_jobs(sc, rollup, events([10, 11]), 1)) <= 7


def test_stream_state_partitions_env_is_validated(spark, monkeypatch):
    """Both partition-count variables go through one positive-integer
    reader: a bad value raises naming the variable, and changes nothing."""
    import pytest
    from pyspark.sql import SparkSession

    from hierarchical_graph_db_spark.session import configure
    from hierarchical_graph_db_spark.streaming.ingest import (
        _stream_shuffle_partitions,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    for bad in ("zero", "0", "-2", "1.5", "", "²"):
        monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", bad)
        with pytest.raises(ValueError,
                           match="SPARK_GRAFT_STREAM_STATE_PARTITIONS"):
            with _stream_shuffle_partitions(spark):
                pass
        assert spark.conf.get("spark.sql.shuffle.partitions") == before

        monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", bad)
        builder = SparkSession.Builder()
        with pytest.raises(ValueError,
                           match="SPARK_GRAFT_SHUFFLE_PARTITIONS"):
            configure(builder)
        assert builder._options == {}

    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "3")
    options = configure(SparkSession.Builder())._options
    assert options["spark.sql.shuffle.partitions"] == "3"

    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "3")
    with _stream_shuffle_partitions(spark):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before

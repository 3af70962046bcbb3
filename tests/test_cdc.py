"""CDC changelog semantics on hand-built inputs: every MERGE path —
last-writer-wins netting, upsert-on-absent, delete tombstones (incl. on
absent keys), insert-on-existing (treated as replace), and aggregate-view
deltas with retractions and group moves."""

from __future__ import annotations

from pyspark.sql import functions as F

from hierarchical_graph_db_spark.operators.maintenance import (
    agg_view_changelog_delta,
    apply_changelog,
    changelog_net,
)

BASE_SCHEMA = "k bigint, grp string, m bigint"
CHG_SCHEMA = "k bigint, seq int, op string, grp string, m bigint"


def _base(spark):
    return spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "b", 40)],
        BASE_SCHEMA)


def _changes(spark):
    return spark.createDataFrame(
        [
            (1, 1, "U", "a", 11),   # plain update
            (2, 1, "U", "b", 25),   # update that MOVES groups a -> b
            (2, 2, "D", "b", 99),   # ...then deleted: LWW picks seq 2
            (3, 1, "D", "b", 0),    # delete
            (3, 2, "I", "c", 33),   # ...then re-inserted into a new group
            (5, 1, "U", "c", 50),   # U on absent key -> insert
            (6, 1, "D", "c", 0),    # D on absent key -> no-op
            (4, 1, "I", "b", 44),   # I on existing key -> replace
        ],
        CHG_SCHEMA)


def test_changelog_net_last_writer_wins(spark):
    net = {r["k"]: (r["op"], r["grp"], r["m"])
           for r in changelog_net(_changes(spark), ["k"], "seq", "op")
           .collect()}
    assert net[2] == ("D", "b", 99)
    assert net[3] == ("I", "c", 33)
    assert len(net) == 6


def test_apply_changelog_all_paths(spark):
    out = {r["k"]: (r["grp"], r["m"])
           for r in apply_changelog(_base(spark), _changes(spark), ["k"])
           .collect()}
    assert out == {
        1: ("a", 11),   # updated
        3: ("c", 33),   # deleted then re-inserted
        4: ("b", 44),   # replaced by I
        5: ("c", 50),   # upserted on absent
        # 2 deleted; 6's delete was a no-op
    }


def test_agg_view_delta_matches_recompute(spark):
    base, changes = _base(spark), _changes(spark)
    delta = {r["grp"]: (r["d_count"], r["d_sum"])
             for r in agg_view_changelog_delta(
                 base, changes, ["k"], "grp", "m").collect()}
    old = {r["grp"]: (r["c"], r["s"]) for r in
           base.groupBy("grp").agg(F.count("*").alias("c"),
                                   F.sum("m").alias("s")).collect()}
    new = {r["grp"]: (r["c"], r["s"]) for r in
           apply_changelog(base, changes, ["k"])
           .groupBy("grp").agg(F.count("*").alias("c"),
                               F.sum("m").alias("s")).collect()}
    for g in set(old) | set(new) | set(delta):
        oc, os_ = old.get(g, (0, 0))
        dc, ds = delta.get(g, (0, 0))
        nc, ns = new.get(g, (0, 0))
        assert (oc + dc, os_ + ds) == (nc, ns), g
    # zero-delta groups are suppressed
    assert all(dc != 0 or ds != 0 for dc, ds in delta.values())


def test_apply_changelog_plan_shape(spark):
    """The net aggregate partial-collapses map-side (HashAggregate, no
    window/sort over the changelog) and the base side joins ANTI — the
    O(|base|+|changes|) contract."""
    plan = apply_changelog(_base(spark), _changes(spark), ["k"]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    assert "Window" not in plan and "WindowExec" not in plan


# --- streaming CDC sink over the bucketed store ------------------------------

CDC_SCHEMA = "k bigint, seq int, op string, grp string, m bigint"


def _sink(spark, tmp_path, n_buckets=4):
    from hierarchical_graph_db_spark.streaming.ingest import CdcParquetSink

    return CdcParquetSink(spark, str(tmp_path / "store"), keys=["k"],
                          n_buckets=n_buckets)


def _state(spark, tmp_path):
    from hierarchical_graph_db_spark.streaming.ingest import read_cdc_store

    return {r["k"]: (r["seq"], r["grp"], r["m"])
            for r in read_cdc_store(spark, str(tmp_path / "store"))
            .collect()}


def test_cdc_sink_applies_batches(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    sink(spark.createDataFrame(
        [(1, 1, "I", "a", 10), (2, 1, "I", "a", 20), (3, 1, "I", "b", 30)],
        CDC_SCHEMA), batch_id=0)
    sink(spark.createDataFrame(
        [(1, 2, "U", "a", 11), (2, 2, "D", "a", 0), (4, 2, "U", "c", 40)],
        CDC_SCHEMA), batch_id=1)
    assert _state(spark, tmp_path) == {
        1: (2, "a", 11), 3: (1, "b", 30), 4: (2, "c", 40)}


def test_cdc_sink_stale_change_loses_to_stored_seq(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    sink(spark.createDataFrame([(1, 5, "I", "a", 50)], CDC_SCHEMA), 0)
    # an older (lower-seq) update arriving later must NOT overwrite
    sink(spark.createDataFrame([(1, 3, "U", "a", 30)], CDC_SCHEMA), 1)
    assert _state(spark, tmp_path)[1] == (5, "a", 50)


def test_cdc_sink_replay_same_batch_is_skipped(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    sink(spark.createDataFrame([(1, 1, "I", "a", 10)], CDC_SCHEMA), 0)
    # replay of batch 0 with DIFFERENT (bogus) content must be a no-op
    sink(spark.createDataFrame([(1, 9, "U", "z", 99)], CDC_SCHEMA), 0)
    assert _state(spark, tmp_path)[1] == (1, "a", 10)


def test_cdc_sink_delete_empties_bucket_and_manifest(spark, tmp_path):
    from hierarchical_graph_db_spark.streaming.store import (
        BucketedParquetStore,
    )

    sink = _sink(spark, tmp_path, n_buckets=2)
    sink(spark.createDataFrame([(1, 1, "I", "a", 10)], CDC_SCHEMA), 0)
    sink(spark.createDataFrame([(1, 2, "D", "a", 0)], CDC_SCHEMA), 1)
    assert _state(spark, tmp_path) == {}
    store = BucketedParquetStore(spark, str(tmp_path / "store"))
    assert store._manifest()["buckets"] == {}
    # the pre-delete snapshot remains time-travelable
    asof = store.read(as_of=0).drop("bucket_id")
    assert [(r["k"], r["m"]) for r in asof.collect()] == [(1, 10)]


def test_cdc_sink_records_batch_attribution(spark, tmp_path):
    """Every applied batch appends one attribution row (VERDICT r12 #5):
    probe + commit = total, commit > 0 (the durable write happened), and
    replays/empty batches record nothing — so the sidecar's row count is
    exactly the applied-batch count."""
    from hierarchical_graph_db_spark.streaming.ingest import (
        sink_batch_attribution,
    )

    before = len(sink_batch_attribution("cdc"))
    sink = _sink(spark, tmp_path)
    sink(spark.createDataFrame([(1, 1, "I", "a", 10)], CDC_SCHEMA), 0)
    sink(spark.createDataFrame([(1, 2, "U", "a", 11)], CDC_SCHEMA), 1)
    sink(spark.createDataFrame([(1, 9, "U", "z", 99)], CDC_SCHEMA), 0)  # replay
    rows = sink_batch_attribution("cdc")[before:]
    assert [r["batch_id"] for r in rows] == [0, 1]
    for r in rows:
        assert r["sink"] == "cdc"
        assert r["store"] == "store"
        # 3-decimal rounding can floor a sub-0.5ms commit to 0.0 on a fast
        # filesystem — the durable-write evidence is total > 0 (r13 advice)
        assert r["commit_secs"] >= 0
        assert r["total_secs"] > 0
        assert r["touched_buckets"] >= 1
        assert abs(r["probe_secs"] + r["commit_secs"] - r["total_secs"]) < 0.01
    # the accessor returns a copy — mutating it must not corrupt the record
    sink_batch_attribution("cdc").clear()
    assert len(sink_batch_attribution("cdc")) >= before + 2


def test_dedup_sink_records_batch_attribution(spark, tmp_path):
    """The dedup sink shares the attribution registry (sink="dedup") —
    bench.py's dedup_sink_two_batches wall decomposes the same way."""
    from hierarchical_graph_db_spark.streaming.ingest import (
        DedupParquetSink,
        sink_batch_attribution,
    )

    before = len(sink_batch_attribution("dedup"))
    sink = DedupParquetSink(spark, str(tmp_path / "dstore"), key="dk",
                            order_by=["v"], member_cols=["v"])
    df = spark.createDataFrame([("a", 1), ("b", 2)], "dk string, v bigint")
    sink(df, batch_id=0)
    sink(df, batch_id=0)  # replay: no row
    rows = sink_batch_attribution("dedup")[before:]
    assert [r["batch_id"] for r in rows] == [0]
    r = rows[0]
    assert r["sink"] == "dedup" and r["store"] == "dstore"
    assert r["commit_secs"] >= 0
    assert r["total_secs"] > 0
    assert abs(r["probe_secs"] + r["commit_secs"] - r["total_secs"]) < 0.01


def test_sink_attribution_registry_is_bounded_not_silently():
    """A long-lived streaming driver applies unbounded batches — the
    registry must cap (no driver memory leak) and the cap must be LOUD
    (a leading marker row with the drop count), never silent truncation.
    Drops are accounted PER SINK: a kind-filtered view reports only its
    own drop count and stays marker-free while only the OTHER sink has
    dropped rows (round-13 advice, low)."""
    from hierarchical_graph_db_spark.streaming import ingest as mod

    saved_rows = list(mod._SINK_BATCH_ATTRIBUTION)
    saved_dropped = dict(mod._SINK_ATTRIBUTION_DROPPED)
    try:
        mod._SINK_BATCH_ATTRIBUTION.clear()
        mod._SINK_ATTRIBUTION_DROPPED.clear()
        # 3 dedup rows land first, then a flood of cdc rows pushes exactly
        # the 3 dedup rows + 4 old cdc rows off the front
        for i in range(3):
            mod._record_sink_batch({"sink": "dedup", "batch_id": i})
        for i in range(mod._SINK_ATTRIBUTION_CAP + 4):
            mod._record_sink_batch({"sink": "cdc", "batch_id": i})
        assert len(mod._SINK_BATCH_ATTRIBUTION) == mod._SINK_ATTRIBUTION_CAP
        rows = mod.sink_batch_attribution()
        assert rows[0] == {"sink": "_truncated", "dropped_rows": 7,
                           "cap": mod._SINK_ATTRIBUTION_CAP}
        # oldest rows dropped, newest kept
        assert rows[1]["batch_id"] == 4
        assert rows[-1]["batch_id"] == mod._SINK_ATTRIBUTION_CAP + 3
        # per-kind accounting: cdc's view reports ONLY cdc's 4 drops …
        cdc = mod.sink_batch_attribution("cdc")
        assert cdc[0]["dropped_rows"] == 4 and cdc[0]["sink"] == "_truncated"
        # … and dedup's view reports its own 3
        dd = mod.sink_batch_attribution("dedup")
        assert dd[0]["dropped_rows"] == 3
        assert [r["sink"] for r in dd[1:]] == []  # all its rows dropped
        # a kind that never dropped shows NO marker even when others did —
        # the advice's exact scenario (marker used to leak across kinds)
        mod._SINK_BATCH_ATTRIBUTION.clear()
        mod._SINK_ATTRIBUTION_DROPPED.clear()
        for i in range(mod._SINK_ATTRIBUTION_CAP):
            mod._record_sink_batch({"sink": "cdc", "batch_id": i})
        mod._record_sink_batch({"sink": "dedup", "batch_id": 0})  # drops 1 cdc
        dd = mod.sink_batch_attribution("dedup")
        assert [r["sink"] for r in dd] == ["dedup"]  # marker-free
        assert mod.sink_batch_attribution("cdc")[0]["sink"] == "_truncated"
    finally:
        mod._SINK_BATCH_ATTRIBUTION[:] = saved_rows
        mod._SINK_ATTRIBUTION_DROPPED.clear()
        mod._SINK_ATTRIBUTION_DROPPED.update(saved_dropped)


def test_cdc_sink_matches_batch_apply(spark, tmp_path):
    """Sequential micro-batches == one-shot apply_changelog on the union."""
    base_rows = [(i, 0, "I", "g" + str(i % 3), i * 10) for i in range(20)]
    b1 = [(i, 1, ("D" if i % 4 == 0 else "U"), "h", i) for i in range(0, 20, 2)]
    b2 = [(i, 2, ("U" if i % 8 else "D"), "z", i + 1) for i in range(0, 20, 4)]
    sink = _sink(spark, tmp_path)
    for bid, rows in enumerate((base_rows, b1, b2)):
        sink(spark.createDataFrame(rows, CDC_SCHEMA), bid)
    got = _state(spark, tmp_path)

    base = spark.createDataFrame(
        [(k, g, m) for k, _, _, g, m in base_rows], "k bigint, grp string, m bigint")
    changes = spark.createDataFrame(b1 + b2, CDC_SCHEMA)
    expect = {r["k"]: (r["grp"], r["m"])
              for r in apply_changelog(base, changes, ["k"]).collect()}
    assert {k: (g, m) for k, (_, g, m) in got.items()} == expect


# --- randomized equivalence property -----------------------------------------

def test_random_changelogs_sequential_equals_oneshot(spark):
    """Deterministic pseudo-random changelogs: splitting any changelog at
    any batch boundary and applying sequentially equals the one-shot
    apply — the associativity law MERGE INTO depends on."""
    import random

    rnd = random.Random(99)
    for trial in range(4):
        n_keys = rnd.randint(5, 25)
        base_rows = [(k, "g%d" % (k % 3), k * 7)
                     for k in range(n_keys) if rnd.random() < 0.7]
        base = spark.createDataFrame(base_rows, "k bigint, grp string, m bigint")
        chg_rows = []
        seq = 0
        for _ in range(rnd.randint(5, 40)):
            seq += 1
            chg_rows.append((rnd.randrange(n_keys + 5), seq,
                             rnd.choice("IUD"), rnd.choice("gh"),
                             rnd.randrange(1000)))
        changes = spark.createDataFrame(chg_rows, CDC_SCHEMA)
        cut = rnd.randint(0, seq)
        first = changes.where(F.col("seq") <= cut)
        second = changes.where(F.col("seq") > cut)
        sequential = apply_changelog(
            apply_changelog(base, first, ["k"]), second, ["k"])
        oneshot = apply_changelog(base, changes, ["k"])
        s = sorted(map(tuple, sequential.collect()))
        o = sorted(map(tuple, oneshot.collect()))
        assert s == o, f"trial {trial} cut {cut}"

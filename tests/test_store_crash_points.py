"""Exhaustive crash-point sweep over the bucketed store's write-ahead
commit (extends VERDICT r13 #4 beyond hand-picked crash sites).

The store docstring claims "a crash at ANY point replays to the same
state". The two existing fault tests pin the two interesting hand-picked
points (before the swap; emptied-bucket before the swap). This sweep
makes the claim exhaustive at the filesystem-mutation granularity: every
``os.replace`` a clean commit performs — the pending-marker swap, each
version-dir move, the archive swap, the live-manifest swap (the commit
point) — is crashed in turn, and the standard recovery protocol
(``already_done`` → finish publish, else redo the whole commit) must land
on a final state IDENTICAL to the clean run's: same rows, same live
manifest mapping, same committed batch id, same as_of snapshots.

The batch under test exercises every commit feature at once: two buckets
rewritten, one bucket EMPTIED (manifest-drop path), on top of an
existing 3-bucket store.
"""

from __future__ import annotations

import os
import shutil

import pytest

from hierarchical_graph_db_spark.streaming import store as store_mod


def _mk_base(spark, path):
    st = store_mod.BucketedParquetStore(spark, path)
    st.commit(0, spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c")], "bucket_id int, val string"),
        write_partitions=3)
    return st


def _batch1(spark):
    # buckets 0 and 1 rewritten, bucket 2 emptied (CDC delete wiped it)
    return spark.createDataFrame(
        [(0, "a2"), (1, "b2")], "bucket_id int, val string")


def _final_state(spark, path):
    st = store_mod.BucketedParquetStore(spark, path)
    rows = {(r["bucket_id"], r["val"]) for r in st.read().collect()}
    snap0 = {(r["bucket_id"], r["val"])
             for r in st.read(as_of=0).collect()}
    return (st.committed_batch_id(), dict(st._manifest()["buckets"]),
            rows, snap0)


def test_commit_replays_identically_from_every_replace_crash(
        spark, tmp_path, monkeypatch):
    base = str(tmp_path / "base")
    _mk_base(spark, base)

    # clean run: count the os.replace mutations and record the target state
    clean = str(tmp_path / "clean")
    shutil.copytree(base, clean)
    real_replace = os.replace
    count = {"n": 0}

    def counting(src, dst):
        count["n"] += 1
        return real_replace(src, dst)

    monkeypatch.setattr(store_mod.os, "replace", counting)
    store_mod.BucketedParquetStore(spark, clean).commit(
        1, _batch1(spark), all_touched=[0, 1, 2], write_partitions=3)
    monkeypatch.setattr(store_mod.os, "replace", real_replace)
    n_mutations = count["n"]
    # pending swap + 2 dir moves + archive swap + manifest swap
    assert n_mutations == 5, n_mutations
    want = _final_state(spark, clean)
    assert want[0] == 1
    assert "bucket_id=2" not in want[1]
    assert want[2] == {(0, "a2"), (1, "b2")}
    assert want[3] == {(0, "a"), (1, "b"), (2, "c")}

    for k in range(n_mutations):
        path = str(tmp_path / f"crash_{k}")
        shutil.copytree(base, path)
        calls = {"n": 0}

        def crashing(src, dst, _k=k, _calls=calls):
            if _calls["n"] == _k:
                raise RuntimeError(f"crash at replace #{_k}")
            _calls["n"] += 1
            return real_replace(src, dst)

        monkeypatch.setattr(store_mod.os, "replace", crashing)
        with pytest.raises(RuntimeError, match="crash at replace"):
            store_mod.BucketedParquetStore(spark, path).commit(
                1, _batch1(spark), all_touched=[0, 1, 2], write_partitions=3)
        monkeypatch.setattr(store_mod.os, "replace", real_replace)

        # crashes before the live-manifest swap leave batch 0 fully
        # visible — no partially-published state at ANY crash point
        fresh = store_mod.BucketedParquetStore(spark, path)
        if fresh.committed_batch_id() == 0:
            assert {(r["bucket_id"], r["val"])
                    for r in fresh.read().collect()} == \
                {(0, "a"), (1, "b"), (2, "c")}, f"crash point {k}"

        # standard recovery: finish the publish if the WAL is replayable,
        # else redo the whole (idempotent) commit
        if not fresh.already_done(1):
            fresh.commit(1, _batch1(spark), all_touched=[0, 1, 2], write_partitions=3)
        assert _final_state(spark, path) == want, f"crash point {k}"
        # replay of the replay is a no-op skip
        assert fresh.already_done(1)

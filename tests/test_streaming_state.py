"""State-store boundedness gates (VERDICT r9 next-round #4).

The §2.8 claims — watermarked state evicted at the horizon, HLL/CMS state ≤
groups×m — are MEASURED here with the same harness that produces
STREAMING_STATE_r10.json (tools/streaming_state_probe.py): the events
fixture split into time-ordered chunks, one chunk per micro-batch, per-batch
``stateOperators`` recorded. Gates are at sf0.001 for suite speed; the
artifact carries the sf0.1 measurement.

What makes these real gates and not tautologies: ``wm_dedup_unique`` keys on
(user_id, event_type, ts) — EVERY input row is a distinct key, so without
watermark eviction state would equal cumulative input (the reference's
forever-growing unique index). Bounded state here can only come from
eviction.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

SF_DIR = "/root/testdata/sf0.001"
N_CHUNKS = 6


@pytest.fixture(scope="module")
def state_results(spark):
    from streaming_state_probe import run_all

    workdir = tempfile.mkdtemp(prefix="hgdb_state_gate_")
    try:
        yield run_all(spark, SF_DIR, workdir, N_CHUNKS,
                      include_sinks=False)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@pytest.fixture(scope="module")
def sink_results(spark):
    """foreachBatch sink probes (VERDICT r10 next-round #5) with an
    aggressive vacuum cadence (every 2 batches, keep_last=2) so the
    bounded-growth ceiling is DISTINGUISHING at 6 batches: without vacuum
    the snapshot history grows ~n_buckets version dirs per batch."""
    import os

    from streaming_state_probe import (
        build_landing,
        probe_cdc_sink,
        probe_dedup_sink,
    )

    workdir = tempfile.mkdtemp(prefix="hgdb_sink_gate_")
    try:
        landing = build_landing(spark, SF_DIR,
                                os.path.join(workdir, "landing"), N_CHUNKS)
        yield {
            "dedup": probe_dedup_sink(
                spark, landing, os.path.join(workdir, "d"),
                n_buckets=16, vacuum_every=2, keep_last=2),
            "cdc": probe_cdc_sink(
                spark, landing, os.path.join(workdir, "c"),
                n_buckets=16, vacuum_every=2, keep_last=2),
        }
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _series(res, name):
    r = res[name]
    rows = [max((s["rows"] for s in b["state"]), default=0)
            for b in r["batches"]]
    return r, rows


def test_wm_dedup_state_is_horizon_bounded_not_cumulative(state_results):
    r, rows = _series(state_results, "wm_dedup_unique")
    assert r["n_batches"] >= N_CHUNKS
    cum = r["cumulative_input_rows"]
    assert cum >= 900  # every row a distinct key
    # without eviction state == cumulative keys; with the 2h watermark it
    # can never exceed ~one chunk (added this batch) + the horizon tail
    chunk = cum / N_CHUNKS
    assert r["max_state_rows"] <= 2 * chunk, \
        f"state {r['max_state_rows']} grew past one batch + horizon ({chunk})"
    # after the final (drain) batch only the last horizon's keys remain
    assert r["final_state_rows"] <= chunk / 2


def test_interval_join_state_is_horizon_bounded(state_results):
    r, rows = _series(state_results, "interval_join")
    cum = r["cumulative_input_rows"]
    chunk = cum / N_CHUNKS
    assert r["max_state_rows"] <= 2 * chunk
    assert r["final_state_rows"] <= chunk / 2


def test_tumbling_append_state_tracks_open_windows(state_results):
    r, rows = _series(state_results, "tumbling_append")
    # windows close as the watermark passes them: state never approaches the
    # cumulative window count and the drain batch leaves only the horizon's
    # open windows
    assert r["max_state_rows"] < r["cumulative_input_rows"] / 2
    assert r["final_state_rows"] <= 48  # ≤ (2h horizon + slack) × event types


def test_hll_state_bounded_by_groups_times_m(state_results):
    r, rows = _series(state_results, "hll_registers")
    # the whole point of sketch-as-state: ≤ groups × m rows regardless of
    # stream length (here ≤ event types × 1024 registers), decoupled from
    # input volume — cardinality lands in register VALUES, not state rows
    assert r["max_state_rows"] <= 8 * 1024
    assert r["max_state_rows"] < r["cumulative_input_rows"] / 2
    # monotone register-cell discovery converges: the back half of the
    # stream adds few new cells compared to the front half
    grown_back = rows[-1] - rows[len(rows) // 2]
    assert grown_back <= rows[len(rows) // 2]


def test_cms_state_bounded_by_grid(state_results):
    r, rows = _series(state_results, "cms_grid")
    # hard cap: the grid shape itself, regardless of stream length or
    # distinct-item count
    assert r["max_state_rows"] <= 4 * 64


def _sink_gates(r, n_chunks):
    """Shared ledger/state bounds for a foreachBatch bucketed-store sink."""
    batches = r["batches"]
    assert len(batches) >= n_chunks
    nb, keep, every = r["n_buckets"], r["keep_last"], r["vacuum_every"]
    for b in batches:
        # the live manifest maps buckets to versions — FLAT at <= n_buckets
        # forever, independent of batch count
        assert b["live_manifest_entries"] <= nb
        # vacuum bounds the snapshot history: at most `every` un-vacuumed
        # generations + `keep_last` retained ones, each <= n_buckets dirs,
        # plus the live generation — a ceiling INDEPENDENT of batch count
        # (without vacuum this grows ~n_buckets per batch: 6 batches would
        # reach ~96 > the 64 ceiling here)
        assert b["version_dirs"] <= nb * (keep + every), \
            f"version dirs {b['version_dirs']} past the vacuum ceiling"
        assert b["archived_manifests"] <= keep + every
        # the pending WAL is cleaned per commit: _meta holds the live
        # manifest + bounded archives only
        assert b["meta_files"] <= keep + every + 2


def test_dedup_sink_ledger_and_state_bounded(sink_results):
    """The exactly-once DedupParquetSink across >=6 overlapping-key batches:
    ledger bounded by the vacuum cadence, store rows EQUAL cumulative
    distinct keys (idempotent merge — no duplicate rows despite every batch
    overlapping keys with every earlier one)."""
    r = sink_results["dedup"]
    _sink_gates(r, N_CHUNKS)
    assert r["cumulative_input_rows"] >= 900
    assert r["store_rows_equal_distinct_keys"], \
        (r["final_store_rows"], r["expected_distinct_keys"])
    # store rows are monotone non-decreasing (append-only dedup semantics)
    rows = [b["store_rows"] for b in r["batches"]]
    assert rows == sorted(rows)


def test_cdc_sink_ledger_and_state_bounded(sink_results):
    """CdcParquetSink: same ledger bounds; the store converges to exactly
    the live keys of the one-shot changelog net (deletes applied, monotone
    sequences respected)."""
    r = sink_results["cdc"]
    _sink_gates(r, N_CHUNKS)
    assert r["store_rows_equal_live_keys"], \
        (r["final_store_rows"], r["expected_live_keys"])

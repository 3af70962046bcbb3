"""Local stand-in for the driver's t2 correctness gate.

Runs every query in ``__spark_entry__.queries()`` at a scale factor and
compares against ``oracle_sql()`` via DuckDB: row count, sorted column names,
and an order-insensitive value hash (rows canonicalized to strings, sorted,
sha256). Mirrors the driver contract well enough that a local green is a
strong predictor of CORRECTNESS_r{N}.json green.

Usage: python tools/verify_local.py [sf_dir] [query ...]
       python tools/verify_local.py [sf_dir] --sample 50 --seed 7
       python tools/verify_local.py [sf_dir] --timings-out timings.json

``--sample N --seed R`` mirrors the driver's per-round random draw (VERDICT r6
next-round item 7): a reproducible random subset so each round's local log can
record a fresh 50 in addition to the full sweep. ``--timings-out`` writes
per-query wall seconds as JSON, with the shared-stage and sink attributions.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_ap = argparse.ArgumentParser()
_ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
_ap.add_argument("only", nargs="*", help="run only these query names")
_ap.add_argument("--sample", type=int, default=0,
                 help="run a random sample of N queries instead of all")
_ap.add_argument("--seed", type=int, default=0, help="sample RNG seed")
_ap.add_argument("--timings-out", default=None,
                 help="write per-query wall seconds to this JSON file")
_ap.add_argument("--duckdb-mem", default=None,
                 help="DuckDB memory_limit (e.g. 40GB) — set when running "
                      "several sweeps in parallel so oracles spill instead "
                      "of fighting for RAM")
_ap.add_argument("--duckdb-threads", type=int, default=0,
                 help="DuckDB thread cap for parallel partitioned sweeps")
_ap.add_argument("--no-oracle", action="store_true",
                 help="timing-only sweep: run and collect each Spark query "
                      "but skip the DuckDB comparison (for scale-factor "
                      "timing curves where the oracle replay itself is the "
                      "bottleneck, e.g. the quadratic dedup oracles at sf3)")
_ARGS = _ap.parse_args()
SF_DIR = _ARGS.sf_dir
ONLY = set(_ARGS.only)

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


from result_digest import canon_value, frame_digest  # noqa: E402  (shared canonicalization)


def main() -> int:
    from hierarchical_graph_db_spark.session import get_spark
    import __spark_entry__ as entry_mod

    spark = get_spark("verify-local")
    con = duckdb.connect()
    # Unique spill dir per process: concurrent sweeps sharing the default
    # cwd-relative .tmp/ delete each other's temp_storage files (observed
    # as a fatal IOException mid-sweep when two partitioned sf1 sweeps ran
    # in parallel).
    import os
    import tempfile
    tmpdir = tempfile.mkdtemp(prefix=f"duckdb_spill_{os.getpid()}_")
    con.execute(f"SET temp_directory='{tmpdir}'")
    # Remove the spill dir on ANY exit, including SIGTERM: a killed sweep
    # otherwise strands its spill files (observed: two killed sf1 sweeps
    # left 30 GB each and a later oracle died on a full disk).
    import atexit
    import shutil
    import signal
    atexit.register(shutil.rmtree, tmpdir, True)
    for _sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(_sig, lambda *_: sys.exit(143))
    if _ARGS.duckdb_mem:
        con.execute(f"SET memory_limit='{_ARGS.duckdb_mem}'")
    if _ARGS.duckdb_threads:
        con.execute(f"SET threads={_ARGS.duckdb_threads}")
    for t in TABLES:
        # Partial fixtures (e.g. the documents-only Heaps'-law corpus) ship
        # only the tables their target queries read; register what exists.
        if os.path.exists(f"{SF_DIR}/{t}.parquet"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    selected = ONLY
    if _ARGS.sample:
        pool = sorted(qs)
        n = min(_ARGS.sample, len(pool))
        selected = set(random.Random(_ARGS.seed).sample(pool, n))
        print(f"sampled {n}/{len(pool)} queries (seed={_ARGS.seed})")
    failures = []
    timings: dict[str, float] = {}
    for name, fn in qs.items():
        if selected and name not in selected:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception:
            failures.append(name)
            print(f"FAIL  {name}: spark error\n{traceback.format_exc()}")
            continue
        took = time.time() - t0
        timings[name] = round(took, 3)
        if _ARGS.no_oracle:
            print(f"time  {name}: {len(s_rows)} rows, {took:.1f}s")
            continue
        if name not in oracles:
            print(f"ok?   {name}: rows-only ({len(s_rows)} rows, {took:.1f}s)")
            continue
        try:
            rel = con.sql(oracles[name])
            d_cols = rel.columns
            d_rows = rel.fetchall()
        except Exception:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error\n{traceback.format_exc()}")
            continue
        problems = []
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols spark={sorted(s_cols)} duck={sorted(d_cols)}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
        if not problems:
            hs = frame_digest(s_cols, s_rows)
            hd = frame_digest(d_cols, d_rows)
            if hs != hd:
                problems.append("value-hash mismatch")
                # print a few differing rows to debug
                order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
                order_d = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
                set_s = {"\x1f".join(canon_value(r[i]) for i in order_s) for r in s_rows}
                set_d = {"\x1f".join(canon_value(r[i]) for i in order_d) for r in d_rows}
                for x in list(set_s - set_d)[:3]:
                    print(f"        spark-only: {x.replace(chr(31), ' | ')}")
                for x in list(set_d - set_s)[:3]:
                    print(f"        duck-only:  {x.replace(chr(31), ' | ')}")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"PASS  {name} ({len(s_rows)} rows, {took:.1f}s)")
    if _ARGS.timings_out:
        # Shared-stage build attribution (VERDICT r11 #5): whichever of
        # the three fuzzy-CC consumers ran first paid the shared build —
        # record it so per-query walls read correctly across rounds.
        from hierarchical_graph_db_spark.queries.dedup import (
            stage_cache_build_secs,
        )
        # Sink per-batch attribution (VERDICT r12 #5): separates the fixed
        # per-batch commit overhead from scaling per-row work in the
        # bucketed-store sink queries' wall times.
        from hierarchical_graph_db_spark.streaming.ingest import (
            sink_batch_attribution,
        )
        with open(_ARGS.timings_out, "w") as f:
            json.dump({"sf_dir": SF_DIR, "timings": timings,
                       "failures": failures,
                       "stage_cache_attribution": stage_cache_build_secs(),
                       "cdc_sink_attribution": sink_batch_attribution("cdc"),
                       "dedup_sink_attribution":
                           sink_batch_attribution("dedup")},
                      f, indent=1, sort_keys=True)
    print(f"\n{len(failures)} failures of "
          f"{len([n for n in qs if not selected or n in selected])}")
    if failures:
        print("failed:", " ".join(failures))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

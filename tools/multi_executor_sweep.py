"""Multi-executor equivalence sweep (VERDICT r7 next-round item 1).

Runs registry queries under a caller-chosen Spark master and prints ONE JSON
line ``{"master": ..., "checkpoint_dir": ..., "results": {name: {"rows": N,
"hash": sha256}}}`` using the exact canonicalization of the oracle sweep
(``tools/result_digest.py``).

The point: every number the engine has ever produced came from ``local[N]``
(one JVM).  ``local-cluster[E,C,MB]`` launches E *separate executor JVMs* —
real serialization boundaries, real remote shuffle fetches, real
executor-side Python workers — the closest a single box gets to a cluster.
Running the iterative family (PageRank, CC, k-truss, betweenness, k-means,
LR, BPE, CDC replay) there with ``SPARK_GRAFT_CHECKPOINT_DIR`` set exercises
the durable ``checkpoint()`` branch of ``materialize()`` (lineage-safe under
executor loss) and the hash comparison proves the plans are
partitioning-deterministic across execution modes.

Usage (single run):
    python tools/multi_executor_sweep.py SF_DIR OUT.json [query ...] \
        [--master local-cluster[2,2,2048]] [--checkpoint-dir DIR]

Equivalence mode (VERDICT r12 next-round #6 — subsumes the per-round
``multiexec_r{N}.py`` wrapper scripts): run the SAME query set under every
cell of masters x env-grid values (each cell a fresh subprocess/JVM —
a SparkSession's master is fixed at JVM launch), assert per-query hash
identity across ALL cells, and write ONE artifact. ``local-cluster``
masters automatically get a durable checkpoint dir (the ``checkpoint()``
branch of ``materialize()``); exit status 1 on any mismatch.

    python tools/multi_executor_sweep.py SF_DIR MULTIEXEC_rN.json q1 q2 \
        --equivalence \
        --masters 'local,local-cluster[2,4,4096]' \
        --env-grid SPARK_GRAFT_SHUFFLE_PARTITIONS=4,16
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from result_digest import frame_digest  # noqa: E402


def _equivalence(args) -> int:
    """Cross-master / cross-env hash-identity harness: one subprocess per
    (master, env-assignment) cell running this script's single-run mode,
    then a per-query comparison of the order-insensitive digests."""
    import itertools
    import subprocess
    import tempfile

    # Split master cells on commas OUTSIDE brackets — the cells themselves
    # contain commas (local-cluster[2,4,4096]).
    masters, buf, depth = [], "", 0
    for ch in args.masters:
        if ch == "," and depth == 0:
            if buf.strip():
                masters.append(buf.strip())
            buf = ""
            continue
        depth += (ch == "[") - (ch == "]")
        buf += ch
    if buf.strip():
        masters.append(buf.strip())
    grids: list[tuple[str, list[str]]] = []
    for spec in args.env_grid or []:
        key, _, vals = spec.partition("=")
        if not vals:
            raise SystemExit(f"--env-grid expects KEY=v1,v2,..., got {spec!r}")
        grids.append((key, vals.split(",")))
    env_cells = [dict(zip([k for k, _ in grids], combo))
                 for combo in itertools.product(*[v for _, v in grids])] \
        or [{}]

    wd = tempfile.mkdtemp(prefix="hgdb_mx_")
    cells: dict[str, dict] = {}
    for master in masters:
        for env_over in env_cells:
            tag = master + ("|" + ",".join(f"{k}={v}"
                                           for k, v in sorted(env_over.items()))
                            if env_over else "")
            if tag in cells:
                # e.g. --masters local,local: the second cell would reuse the
                # first's cell_N.json/ck_N paths and "compare" a cell against
                # itself while still exiting 0 (round-13 advice, low)
                raise SystemExit(
                    f"[equivalence] duplicate (master, env) cell {tag!r} — "
                    "each cell must be distinct for the identity check to "
                    "mean anything")
            cell_out = os.path.join(
                wd, f"cell_{len(cells)}.json")
            cmd = [sys.executable, os.path.abspath(__file__),
                   args.sf_dir, cell_out, *args.names]
            if master != "local":
                cmd += ["--master", master]
                if master.startswith("local-cluster"):
                    cmd += ["--checkpoint-dir",
                            os.path.join(wd, f"ck_{len(cells)}")]
            env = dict(os.environ)
            env.pop("SPARK_MASTER", None)
            env.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)
            env.update(env_over)
            print(f"[equivalence] cell {tag}", file=sys.stderr)
            subprocess.run(cmd, check=True, env=env)
            with open(cell_out) as fh:
                run = json.load(fh)
            cells[tag] = {
                "master": run["master"],
                "checkpoint_dir": run["checkpoint_dir"],
                "env": env_over,
                "secs": {q: run["results"][q]["secs"] for q in args.names},
                "hashes": {q: run["results"][q]["hash"] for q in args.names},
                "rows": {q: run["results"][q]["rows"] for q in args.names},
            }

    base_tag = next(iter(cells))
    mismatches = {
        q: {t: c["hashes"][q] for t, c in cells.items()}
        for q in args.names
        if len({c["hashes"][q] for c in cells.values()}) > 1
    }
    doc = {
        "note": ("multi_executor_sweep --equivalence: per-query "
                 "order-insensitive sha256 identity across all "
                 "master x env cells (fresh JVM each; local-cluster "
                 "cells use durable checkpoints)."),
        "sf_dir": args.sf_dir,
        "queries": args.names,
        "cells": {t: {k: v for k, v in c.items() if k != "hashes"}
                  for t, c in cells.items()},
        "hashes": cells[base_tag]["hashes"],
        "identical": not mismatches,
        "mismatches": mismatches,
    }
    with open(args.out, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
    print(json.dumps({"cells": len(cells), "queries": len(args.names),
                      "identical": not mismatches}))
    return 0 if not mismatches else 1


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("out")
    ap.add_argument("names", nargs="+")
    ap.add_argument("--master", default=None,
                    help="Spark master (default: engine local[N])")
    ap.add_argument("--checkpoint-dir", default=None,
                    help="durable checkpoint dir → materialize() uses "
                         "checkpoint() instead of localCheckpoint()")
    ap.add_argument("--equivalence", action="store_true",
                    help="cross-master/env hash-identity mode (see module "
                         "docstring); --master/--checkpoint-dir are ignored")
    ap.add_argument("--masters", default="local,local-cluster[2,4,4096]",
                    help="comma-separated master cells for --equivalence "
                         "('local' = engine default local[N])")
    ap.add_argument("--env-grid", action="append", default=[],
                    help="KEY=v1,v2 env cross-product for --equivalence "
                         "(repeatable)")
    args = ap.parse_args()

    if args.equivalence:
        return _equivalence(args)

    if args.master:
        os.environ["SPARK_MASTER"] = args.master
    if args.checkpoint_dir:
        os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = args.checkpoint_dir

    from hierarchical_graph_db_spark.session import get_spark
    import __spark_entry__ as entry_mod

    spark = get_spark("multi-executor-sweep")
    qs = entry_mod.queries()
    results: dict[str, dict] = {}
    for name in args.names:
        t0 = time.time()
        df = qs[name](spark, args.sf_dir)
        rows = df.collect()
        cols = df.columns
        results[name] = {
            "rows": len(rows),
            "hash": frame_digest(cols, [tuple(r) for r in rows]),
            # Wall seconds; excluded from equivalence comparison (compare
            # the "results" dicts with timings stripped, or per-name
            # rows/hash) — recorded so mode-vs-mode overhead (serialization,
            # remote shuffle fetch, durable checkpoints) gets a number.
            "secs": round(time.time() - t0, 2),
        }
        print(f"done {name}: {len(rows)} rows, {time.time()-t0:.1f}s",
              file=sys.stderr)
    out = {
        "master": spark.sparkContext.master,
        "checkpoint_dir": spark.sparkContext.getCheckpointDir(),
        "results": results,
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps({"master": out["master"], "n": len(results)}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Sampled independent correctness check for the capped dedup modes at
scales where the full DuckDB oracle out-spills the disk (VERDICT r9 #2).

The sf10 decade points in HEAPS_r9.json were timing-only: DuckDB's replay
materializes the uncapped df-join intermediate and exhausts the host's
disk. This verifier closes the gap WITHOUT the full replay:

1. run the registry query (engine path: inverted-index self-join +
   count-aggregate) and time it;
2. deterministically sample ~1k output pairs (positives) and ~1k
   candidate-adjacent NON-pairs — pairs sharing ≥1 retained shingle that
   the engine did NOT emit (drawn from a deterministic doc sample's
   inverted-index partners, anti-joined against the output);
3. recompute containment/Jaccard for exactly those pairs through a fully
   INDEPENDENT path: pure-Python shingling of the involved docs (pyarrow
   reader, no Spark, no DuckDB), document frequencies for the involved
   shingles counted in one streaming pyarrow pass over the whole corpus,
   set arithmetic on the driver;
4. assert score equality (≤ 5e-7, the 6dp rounding half-step) for
   positives and verdict agreement for both samples: every positive must
   clear threshold + min_set_size on the recomputed sets, every negative
   must fail at least one.

Pair semantics contract: identical to the `dedup_containment_capped` /
`dedup_ngram_jaccard_capped` oracles in queries/dedup.py — normalized
lowercase text, whitespace tokens, word-3-gram DISTINCT shingles, df ≤ 64
retained, C = |A∩B|/min, J = |A∩B|/union, unrounded threshold, ≥ 20
retained shingles on both sides.

Usage:
  python tools/sampled_pair_verify.py FIXTURE_DIR [--queries q1,q2]
      [--sample 1000] [--out SAMPLED_VERIFY.json]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CAP = 64
MIN_SET = 20
THRESHOLDS = {"dedup_containment_capped": ("containment", 0.7),
              "dedup_ngram_jaccard_capped": ("jaccard", 0.5)}

_WS = re.compile(r"[ \t\n\x0b\f\r]+")  # Java \s, not unicode-wide \s


def py_shingles(text: str, n: int = 3) -> set[str]:
    """The oracle contract in pure Python: lower → collapse whitespace →
    trim → whitespace tokens → distinct word n-grams."""
    norm = _WS.sub(" ", text.lower()).strip()
    if not norm:
        return set()
    toks = norm.split(" ")
    if len(toks) < n:
        return set()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def corpus_df_for(parquet_path: str, involved: set[str]) -> dict[str, int]:
    """One streaming pyarrow pass over the WHOLE corpus counting, for
    exactly the involved shingles, how many docs contain each — the
    independent document-frequency path (no Spark, no DuckDB)."""
    import pyarrow.dataset as ds

    df_counts: dict[str, int] = {}
    dataset = ds.dataset(parquet_path)
    for batch in dataset.to_batches(columns=["text"], batch_size=4096):
        for text in batch.column("text").to_pylist():
            if not text:
                continue
            hits = py_shingles(text) & involved
            for s in hits:
                df_counts[s] = df_counts.get(s, 0) + 1
    return df_counts


def verify_query(spark, fixture_dir: str, qname: str, n_sample: int) -> dict:
    from pyspark.sql import functions as F

    from hierarchical_graph_db_spark.io import Catalog
    from hierarchical_graph_db_spark.operators.dedup_fuzzy import (
        _prune_hot_shingles,
        shingles,
    )
    from hierarchical_graph_db_spark.queries import load

    score_col, threshold = THRESHOLDS[qname]
    registry = load()

    t0 = time.perf_counter()
    out = registry[qname].run(spark, fixture_dir).persist()
    n_out = out.count()
    wall = time.perf_counter() - t0

    positives = (
        out.orderBy(F.xxhash64("id_a", "id_b"))
        .limit(n_sample).collect()
    )

    # candidate-adjacent non-pairs: partners of a deterministic doc sample
    # through the same retained (df ≤ CAP) inverted index, minus the output
    docs = Catalog(spark, fixture_dir).documents
    sh_f = _prune_hot_shingles(
        shingles(docs), docs, CAP).persist()
    sampled_docs = (
        sh_f.select("id").distinct()
        .orderBy(F.xxhash64("id")).limit(1500)
    )
    cand = (
        sh_f.join(sampled_docs.withColumnRenamed("id", "sid"),
                  sh_f["id"] == F.col("sid"))
        .select(F.col("sid"), "shingle")
        .join(sh_f, on="shingle")
        .where(F.col("sid") != F.col("id"))
        .select(F.least("sid", "id").alias("id_a"),
                F.greatest("sid", "id").alias("id_b"))
        .distinct()
    )
    negatives = (
        cand.join(out.select("id_a", "id_b"), on=["id_a", "id_b"],
                  how="left_anti")
        .orderBy(F.xxhash64("id_a", "id_b"))
        .limit(n_sample).collect()
    )
    out.unpersist()
    sh_f.unpersist()

    parquet_for_empty = os.path.join(fixture_dir.rstrip("/"),
                                     "documents.parquet")
    if not positives and not negatives:
        # Degenerate regime (e.g. the fixed-vocab fixture at sf≥3: every
        # trigram is hot, nothing is retained, the engine emits 0 rows and
        # there are no candidate-adjacent pairs to sample). Verify the
        # EMPTINESS independently: for a deterministic doc sample, recompute
        # retained sets in Python and require every one to abstain
        # (< MIN_SET retained shingles) — a sampled proof that 0 rows is the
        # correct answer, not a silent verifier no-op.
        sample_ids = [r["doc_id"] for r in
                      docs.select("doc_id").orderBy(F.xxhash64("doc_id"))
                      .limit(200).collect()]
        id_set = set(sample_ids)
        sets0: dict[int, set[str]] = {}
        import pyarrow.dataset as ds

        for batch in ds.dataset(parquet_for_empty).to_batches(
                columns=["doc_id", "text"], batch_size=4096):
            for i, t in zip(batch.column("doc_id").to_pylist(),
                            batch.column("text").to_pylist()):
                if i in id_set:
                    sets0[i] = py_shingles(t or "")
        inv = set().union(*sets0.values()) if sets0 else set()
        dfc0 = corpus_df_for(parquet_for_empty, inv)
        non_abstaining = [
            i for i, ss in sets0.items()
            if len({s for s in ss if dfc0.get(s, 0) <= CAP}) >= MIN_SET]
        return {
            "query": qname,
            "fixture": fixture_dir,
            "engine_wall_sec": round(wall, 3),
            "engine_rows": n_out,
            "positives_checked": 0,
            "negatives_checked": 0,
            "emptiness_check": {
                "docs_sampled": len(sets0),
                "non_abstaining_docs": non_abstaining[:10],
            },
            "pass": n_out == 0 and not non_abstaining,
        }

    involved_ids = sorted(
        {r["id_a"] for r in positives} | {r["id_b"] for r in positives}
        | {r["id_a"] for r in negatives} | {r["id_b"] for r in negatives})

    # involved docs' texts + full shingle sets, pure Python
    import pyarrow.dataset as ds

    parquet_path = os.path.join(fixture_dir.rstrip("/"), "documents.parquet")
    id_set = set(involved_ids)
    sets: dict[int, set[str]] = {}
    dataset = ds.dataset(parquet_path)
    for batch in dataset.to_batches(columns=["doc_id", "text"],
                                    batch_size=4096):
        ids = batch.column("doc_id").to_pylist()
        texts = batch.column("text").to_pylist()
        for i, t in zip(ids, texts):
            if i in id_set:
                sets[i] = py_shingles(t or "")
    involved_shingles = set().union(*sets.values()) if sets else set()

    dfc = corpus_df_for(parquet_path, involved_shingles)
    retained = {i: {s for s in ss if dfc.get(s, 0) <= CAP}
                for i, ss in sets.items()}

    def score(a: int, b: int) -> tuple[float, float, int, int]:
        ra, rb = retained[a], retained[b]
        common = len(ra & rb)
        c = common / min(len(ra), len(rb)) if ra and rb else 0.0
        j = common / len(ra | rb) if (ra or rb) else 0.0
        return c, j, len(ra), len(rb)

    score_mismatches, verdict_mismatches = [], []
    for r in positives:
        c, j, na, nb = score(r["id_a"], r["id_b"])
        got = c if score_col == "containment" else j
        if abs(got - r[score_col]) > 5e-7:
            score_mismatches.append((r["id_a"], r["id_b"],
                                     r[score_col], round(got, 6)))
        # the containment query reports BOTH scores — check the other too
        if score_col == "containment" and abs(j - r["jaccard"]) > 5e-7:
            score_mismatches.append((r["id_a"], r["id_b"],
                                     r["jaccard"], round(j, 6)))
        if not (got >= threshold - 1e-12 and min(na, nb) >= MIN_SET):
            verdict_mismatches.append(("pos", r["id_a"], r["id_b"]))
    negative_violations = []
    for r in negatives:
        c, j, na, nb = score(r["id_a"], r["id_b"])
        got = c if score_col == "containment" else j
        if got >= threshold and min(na, nb) >= MIN_SET:
            negative_violations.append((r["id_a"], r["id_b"], round(got, 6)))

    return {
        "query": qname,
        "fixture": fixture_dir,
        "engine_wall_sec": round(wall, 3),
        "engine_rows": n_out,
        "positives_checked": len(positives),
        "negatives_checked": len(negatives),
        "score_mismatches": score_mismatches[:10],
        "verdict_mismatches": verdict_mismatches[:10],
        "negative_violations": negative_violations[:10],
        "pass": not (score_mismatches or verdict_mismatches
                     or negative_violations),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("fixture_dir")
    ap.add_argument("--queries",
                    default="dedup_containment_capped,dedup_ngram_jaccard_capped")
    ap.add_argument("--sample", type=int, default=1000)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from hierarchical_graph_db_spark.session import get_spark

    spark = get_spark("sampled_pair_verify")
    spark.sparkContext.setLogLevel("ERROR")
    results = [verify_query(spark, args.fixture_dir, q, args.sample)
               for q in args.queries.split(",")]
    doc = {"fixture": args.fixture_dir, "results": results}
    text = json.dumps(doc, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text)
    for r in results:
        print(f"{r['query']}: wall={r['engine_wall_sec']}s "
              f"rows={r['engine_rows']} +{r['positives_checked']}"
              f"/-{r['negatives_checked']} sampled -> "
              f"{'PASS' if r['pass'] else 'FAIL'}")
    if args.out:
        print(f"wrote {args.out}")
    if not all(r["pass"] for r in results):
        sys.exit(1)


if __name__ == "__main__":
    main()

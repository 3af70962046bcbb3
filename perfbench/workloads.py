"""The workloads. Each is a closed loop with one client: the next
operation starts when the previous one returns.

A workload prepares its inputs before the session starts (untimed), sets
up and warms the engine (``setup_s``), then runs timed *units* — an ingest
cycle, one operation of the analytics mix — until the run's seconds are
spent, and checks every result. Trace operations (one Spark job group
each) are finer than units where a unit calls several engine entry points.

A unit returns ``(op_walls, items, item_wall)``: ``op_walls`` feed
``op_gmean_ref_s`` and ``items / item_wall`` feeds ``items_per_ref_s``. On
``analytics`` both are the operation's wall; on ``ingest`` the first are
the read side of the cycle (the lookups) and the second the write side
(sink and vacuum), so a change that trades one for the other moves the two
metrics apart instead of netting out.

Walls are at the reference speed: the host's other guests change how fast
it runs this process by a third from one minute to the next, and every
operation slows with them. So each operation is preceded by the reference
loop (``RefLoop``), which calls nothing of the engine, and its wall is
scaled by ``REF_LOOP_S / loop wall``.
"""

from __future__ import annotations

import os
import random
import shutil
import subprocess
import sys
import time
import traceback

import inputs
import tracing

#: the reference loop's iterations per worker, and its wall at the
#: reference speed
REF_LOOP_N = 500_000
REF_LOOP_S = 0.1

_REF_WORKER = f"""
import sys
for _ in sys.stdin:
    s = 0
    for i in range({REF_LOOP_N}):
        s += i * i % 7
    print(flush=True)
"""

#: Input sizes. ``N_BATCHES`` bounds the ingest cycles a run can time (a
#: cycle takes about 4 s on 4 cores); a run whose inputs run out measures
#: the cycles it ran.
SF = 0.01
FILL_EMAILS = 1000
BATCH_EMAILS = 1000
N_BATCHES = 24
#: ingest: keyed lookups after each commit (each about 0.6 s)
LOOKUPS = 3
GRAPH_VERTICES = 6000
GRAPH_DRAWS = 30000

#: ingest: untimed cycles after the store fill (with one, the first timed
#: cycle's write side still ran 10-60 % slower than the next two), and the
#: fewest timed ones (a run on a busy host would otherwise stop after two)
WARM_CYCLES = 2
MIN_CYCLES = 3

#: analytics: short read-only registry queries covering a scan/aggregate/
#: join hierarchy rollup, windows and time series, text, brute-force ANN
#: top-k and hybrid retrieval, the driver-finished graph query, one availableNow
#: streaming query, and the LLM-data operators (MinHash-LSH dedup, semantic
#: dedup by k-means, IVF and PQ ANN with their training). Exact dedup and
#: decontamination run inside ``curate_corpus``. The mix is as small as
#: covers every layer, so that a run (set-up pass plus timed pass) stays
#: near a minute on 4 cores.
QUERIES = [
    "flagship_hierarchy_rollup", "hourly_event_rollup", "text_token_stats",
    "ann_bruteforce_topk", "hybrid_retrieval_rrf", "graph_pagerank",
    "streaming_tumbling_rollup",
    "dedup_minhash_lsh", "semantic_dedup_keepers", "ann_ivf_topk",
    "ann_pq_adc_topk",
]

#: analytics: PageRank with the distributed superstep path forced
#: (``small_cutoff=0``). It runs a fixed 3 rounds, so its work does not
#: vary with the seed's graph.
PAGERANK = "pagerank_distributed"
FORCE_DRIVER = 2 ** 25      # a small_cutoff no generated graph exceeds

#: analytics: the materialized curation pipeline (quality filter, exact
#: dedup, decontamination, sampling, sequence packing)
CURATE = "curate_corpus"


class RefLoop:
    """A fixed pure-Python loop run at once in one idle worker process per
    core and timed until the last worker is done: the shape of a Spark
    stage with one task per core, which a preempted core holds up the same
    way. The workers wait on a pipe between calls, so they load nothing
    while an operation runs."""

    def __init__(self, width: int):
        self.procs = [subprocess.Popen(
            [sys.executable, "-c", _REF_WORKER], stdin=subprocess.PIPE,
            stdout=subprocess.PIPE, text=True) for _ in range(width)]

    def __call__(self) -> float:
        t0 = time.perf_counter()
        for p in self.procs:
            p.stdin.write("\n")
            p.stdin.flush()
        for p in self.procs:
            p.stdout.readline()
        return time.perf_counter() - t0

    def close(self) -> None:
        for p in self.procs:
            p.stdin.close()
        for p in self.procs:
            p.wait()


class Ctx:
    """What a workload needs from the run: session, tracer, paths, seed."""

    def __init__(self, spark, tracer, work: str, run_dir: str, seed: int,
                 ref_loop: RefLoop):
        self.spark = spark
        self.ref_loop = ref_loop
        self.tr = tracer
        self.work = work
        self.run_dir = run_dir
        self.seed = seed
        self.attempted = 0
        self.failures: list[str] = []
        self.ref_loops: list[float] = []

    def fail(self, what: str, detail: str = "") -> None:
        self.failures.append(what)
        print(f"CHECK FAILED: {what} {detail}".rstrip(), file=sys.stderr)

    def speed(self) -> float:
        """Time the reference loop now; returns the factor that scales a
        wall measured right after it to the reference speed."""
        self.ref_loops.append(self.ref_loop())
        return REF_LOOP_S / self.ref_loops[-1]


def _digest(cols, rows) -> str:
    from result_digest import frame_digest

    return frame_digest(list(cols), [tuple(r) for r in rows])


def run_op(ctx: Ctx, name: str, build, timed: bool = True):
    """One operation: ``build()`` returns a DataFrame, which is collected.
    Returns (wall at the reference speed, (columns, rows)), or (wall, None)
    if it raised."""
    ctx.attempted += 1
    k = ctx.speed()
    t0 = time.perf_counter()
    try:
        with ctx.tr.op(name, timed) as op:
            with ctx.tr.span("queries.run", name):
                df = build()
            with ctx.tr.span("queries.collect", name):
                rows = df.collect()
        wall = time.perf_counter() - t0
    except Exception:  # noqa: BLE001 - a failed operation is a result
        ctx.fail(name, "raised:\n" + traceback.format_exc())
        return (time.perf_counter() - t0) * k, None
    if op is not None:
        op["counts"]["catalyst_s"] = tracing.catalyst_seconds(df)
    return wall * k, (df.columns, rows)


def run_call(ctx: Ctx, name: str, fn, timed: bool = True):
    """One operation that returns a Python value instead of a DataFrame."""
    ctx.attempted += 1
    k = ctx.speed()
    t0 = time.perf_counter()
    try:
        with ctx.tr.op(name, timed):
            out = fn()
    except Exception:  # noqa: BLE001
        ctx.fail(name, "raised:\n" + traceback.format_exc())
        return (time.perf_counter() - t0) * k, None
    return (time.perf_counter() - t0) * k, out


class Workload:
    name = ""

    def prepare(self, ctx: Ctx) -> dict:
        """Generate inputs and reference answers; returns input sizes."""
        raise NotImplementedError

    def setup(self, ctx: Ctx) -> None:
        """Fill and warm up; counted in setup_s."""
        raise NotImplementedError

    def unit(self, ctx: Ctx) -> tuple[list, int, float]:
        """One timed unit: (op walls, items of work done, their wall)."""
        raise NotImplementedError

    def at_boundary(self) -> bool:
        return True

    def finish(self, ctx: Ctx) -> dict:
        """Final checks (untimed); returns extra per-layer metrics."""
        return {}


# -- ingest -----------------------------------------------------------------

class Ingest(Workload):
    """The reference's workload: micro-batches of RFC822 mail upserted,
    deduplicated, into a bucketed store, each followed by a keyed lookup,
    with vacuum every cycle as a service would run it. A unit is one cycle;
    its op wall is the lookup's, its items are the batch's emails, written
    in the sink's and vacuum's wall."""

    name = "ingest"
    KEY_COLS = ["user", "folder", "filename"]

    def prepare(self, ctx):
        self.meta = inputs.email_batches(ctx.work, ctx.seed, FILL_EMAILS,
                                         BATCH_EMAILS, N_BATCHES, LOOKUPS)
        self.store = os.path.join(ctx.run_dir, "store")
        self.next_batch = 1
        self.timed_batches: list[int] = []
        self.written = {"bytes": 0, "files": 0}
        self.lookup_walls: list[float] = []
        return {"fill_emails": FILL_EMAILS, "batch_emails": BATCH_EMAILS}

    def _apply(self, ctx, b: int, timed: bool) -> tuple[list, float]:
        """One cycle; returns (lookup walls, sink + vacuum wall)."""
        from hierarchical_graph_db_spark.sources.maildir import parse_emails
        from hierarchical_graph_db_spark.streaming.ingest import (
            DedupParquetSink, read_dedup_store)
        from hierarchical_graph_db_spark.streaming.store import (
            BucketedParquetStore)
        from pyspark.sql import functions as F

        spark = ctx.spark
        info = self.meta["batches"][b]
        sink = DedupParquetSink(spark, self.store, key="dedupe_key",
                                order_by=self.KEY_COLS,
                                member_cols=self.KEY_COLS)
        w_sink, _ = run_call(ctx, "sink", lambda: sink(
            parse_emails(spark.read.parquet(info["path"])), b), timed)
        if ctx.tr.traced:
            self._count_written(b)
        if b == 0:
            return [], w_sink
        w_reads = []
        for key in info["probes"]:
            w_read, res = run_op(ctx, "lookup", lambda key=key: (
                read_dedup_store(spark, self.store)
                .where(F.col("dedupe_key") == key)
                .select("dedupe_key", F.col("members"))), timed)
            if res is not None:
                self._check_probe(ctx, b, key, res[1])
            w_reads.append(w_read)
        w_vac, _ = run_call(ctx, "vacuum", lambda: BucketedParquetStore(
            spark, self.store).vacuum(keep_last=2), timed)
        if timed:
            self.lookup_walls += w_reads
        return w_reads, w_sink + w_vac

    def _count_written(self, b: int) -> None:
        import glob

        for f in glob.glob(os.path.join(self.store, "data", "*",
                                        f"__v={b}", "*")):
            if f.endswith(".parquet"):
                self.written["files"] += 1
                self.written["bytes"] += os.path.getsize(f)

    def _check_probe(self, ctx, b: int, key: str, rows) -> None:
        want = inputs.expected_store(self.meta["deliveries"], b).get(key)
        got = ({tuple(m[c] for c in self.KEY_COLS) for m in rows[0][1]}
               if len(rows) == 1 else None)
        if got != want:
            ctx.fail(f"lookup batch {b}", f"key {key}: {got} != {want}")

    def setup(self, ctx):
        # the fill, then WARM_CYCLES cycles
        for b in range(WARM_CYCLES + 1):
            self._apply(ctx, b, timed=False)
        self.next_batch = WARM_CYCLES + 1

    def unit(self, ctx):
        b = self.next_batch
        if b >= len(self.meta["batches"]):
            raise StopIteration
        self.next_batch += 1
        w_reads, w_write = self._apply(ctx, b, timed=True)
        self.timed_batches.append(b)
        return w_reads, self.meta["batches"][b]["n"], w_write

    def at_boundary(self):
        return len(self.timed_batches) >= MIN_CYCLES

    def finish(self, ctx):
        from hierarchical_graph_db_spark.streaming.ingest import (
            read_dedup_store, sink_batch_attribution)
        from pyspark.sql import functions as F

        last = self.next_batch - 1
        want = inputs.expected_store(self.meta["deliveries"], last)
        ctx.attempted += 1
        got = {r[0]: {tuple(m[c] for c in self.KEY_COLS) for m in r[1]}
               for r in read_dedup_store(ctx.spark, self.store)
               .select("dedupe_key", "members").collect()}
        if got != want:
            bad = sorted(set(got) ^ set(want))[:3] or [
                k for k in want if got.get(k) != want[k]][:3]
            ctx.fail("final store", f"{len(got)} keys vs {len(want)} "
                     f"expected; first differing: {bad}")
        quarantined = (read_dedup_store(ctx.spark, self.store)
                       .where(F.col("dedupe_key").isNull())
                       .agg(F.coalesce(F.sum("n_duplicates"), F.lit(0)))
                       .collect()[0][0])
        store_bytes = sum(os.path.getsize(os.path.join(d, f))
                          for d, _, fs in os.walk(self.store) for f in fs)
        n = max(1, len(self.timed_batches))
        timed = set(self.timed_batches)
        touched = [r["touched_buckets"] for r in sink_batch_attribution("dedup")
                   if r.get("batch_id") in timed]
        return {
            "sources.maildir.emails_in": sum(
                self.meta["batches"][b]["n"] for b in self.timed_batches) / n,
            "sources.maildir.quarantined": quarantined / (last + 1),
            # the post-commit lookups' mean wall (read_dedup_store +
            # collect), at the reference speed
            "streaming.store.read_s": (sum(self.lookup_walls)
                                       / max(1, len(self.lookup_walls))),
            "streaming.store.buckets_touched": (sum(touched) / len(touched)
                                                if touched else 0.0),
            "streaming.store.bytes_written": self.written["bytes"] / n,
            "streaming.store.files_written": self.written["files"] / n,
            "streaming.store.bytes_per_email": store_bytes / max(1, len(want)),
        }


# -- analytics --------------------------------------------------------------

class Analytics(Workload):
    """The read-only user: each pass runs a seeded permutation of a fixed
    mix, and a unit is one operation of it. The mix is the registry queries
    in QUERIES over a seeded fixture, each checked against the DuckDB
    oracle digest (rows-only queries: the same digest in every pass);
    distributed PageRank on a seeded power-law communication graph, checked
    against the same operator's driver finish (a bit-exact twin); and
    ``curate_corpus``, whose stage counts must repeat."""

    name = "analytics"

    def prepare(self, ctx):
        import pyarrow.parquet as pq

        from hierarchical_graph_db_spark.queries import load

        self.registry = load()
        self.fx = inputs.fixture(ctx.work, ctx.seed, SF)
        self.oracle = inputs.oracle_results(self.fx, QUERIES)
        self.graph = inputs.power_law_graph(
            ctx.work, ctx.seed, GRAPH_VERTICES, GRAPH_DRAWS)
        self.n_docs = pq.read_metadata(
            os.path.join(self.fx, "documents.parquet")).num_rows
        self.first: dict[str, str] = {}
        self.seen: set[str] = set()
        self.counts = None
        self.curated = 0
        self.mix = QUERIES + [PAGERANK, CURATE]
        self.rng = random.Random(ctx.seed)
        self.order: list[str] = []
        return {"sf": SF, "mix": len(self.mix),
                "documents": self.n_docs,
                "graph_vertices": self.graph["vertices"],
                "graph_edges": self.graph["edges"]}

    def _query(self, ctx, name: str, timed: bool) -> float:
        spec = self.registry[name]
        wall, res = run_op(ctx, name,
                           lambda: spec.run(ctx.spark, self.fx), timed)
        if res is None:
            return wall
        digest = _digest(*res)
        want = self.oracle[name]
        if want is None:
            if digest != self.first.setdefault(name, digest):
                ctx.fail(name, "result digest differs from the first pass")
        elif (digest != want["digest"]
              and not inputs.same_rows(inputs.cells(*res), want["cells"])):
            ctx.fail(name, "result differs from the oracle")
        return wall

    def _pagerank(self, ctx, cutoff: int):
        from hierarchical_graph_db_spark.operators.graph import pagerank

        edges = ctx.spark.read.parquet(self.graph["path"])
        return pagerank(edges, n_iter=3, small_cutoff=cutoff)

    def _graph(self, ctx, timed: bool) -> float:
        wall, res = run_op(ctx, PAGERANK, lambda: self._pagerank(ctx, 0),
                           timed)
        if res is not None:
            self.seen.add(_digest(*res))
        return wall

    def _curate(self, ctx, timed: bool) -> float:
        from hierarchical_graph_db_spark.pipelines import curate_corpus

        out = os.path.join(ctx.run_dir, f"curated-{self.curated}")
        self.curated += 1
        wall, counts = run_call(ctx, CURATE, lambda: curate_corpus(
            ctx.spark, self.fx, out), timed)
        shutil.rmtree(out, ignore_errors=True)
        if counts is None:
            return wall
        stages = [counts[k] for k in ("total", "after_quality",
                                      "after_exact_dedup",
                                      "after_decontaminate", "curated")]
        if self.counts is None:
            # the first run is the reference for later ones; check that
            # it is plausible on its own: every stage only drops documents
            if (stages != sorted(stages, reverse=True)
                    or counts["total"] != self.n_docs
                    or counts["packed"] < 1):
                ctx.fail(CURATE, f"implausible stage counts {counts}")
            self.counts = counts
        elif counts != self.counts:
            ctx.fail(CURATE, f"stage counts {counts} vs first run "
                     f"{self.counts}")
        return wall

    def _run(self, ctx, name: str, timed: bool) -> float:
        if name == CURATE:
            return self._curate(ctx, timed)
        if name == PAGERANK:
            return self._graph(ctx, timed)
        return self._query(ctx, name, timed)

    def setup(self, ctx):
        for name in self.mix:
            self._run(ctx, name, timed=False)

    def unit(self, ctx):
        if not self.order:
            self.order = self.rng.sample(self.mix, len(self.mix))
        wall = self._run(ctx, self.order.pop(), timed=True)
        return [wall], 1, wall

    def at_boundary(self):
        return not self.order

    def finish(self, ctx):
        """Compare the distributed PageRank results with the driver finish,
        computed once per seed and cached beside the graph."""
        path = os.path.join(os.path.dirname(self.graph["path"]),
                            "_twin.txt")
        if os.path.exists(path):
            with open(path, encoding="utf-8") as f:
                twin = f.read()
        else:
            df = self._pagerank(ctx, FORCE_DRIVER)
            twin = _digest(df.columns, df.collect())
            with open(path, "w", encoding="utf-8") as f:
                f.write(twin)
        if self.seen and self.seen != {twin}:
            ctx.fail(PAGERANK, "distributed result differs from the driver "
                     "finish")
        return {}


WORKLOADS = {w.name: w for w in (Ingest, Analytics)}

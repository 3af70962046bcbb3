"""Traced-run plumbing: spans around the engine's public functions, one
Spark job group per operation, and task metrics from Spark's event log.

A traced run wraps the engine's public functions from here (the engine is
not modified), keeps every span in memory, and after the session stops
joins the spans with the jobs, stages and tasks in the event log. Jobs are
tied to an operation by ``spark.jobGroup.id`` (or, for jobs that a
streaming query's own thread starts, by their submission time — there is
one client, so at most one operation is open at any moment), and to an
inner span by submission time.

Layer time is self time: a span's wall minus the part covered by spans
nested inside it. Self times of all spans inside an operation therefore
add up to the operation's wall, and no layer is counted twice.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import json
import os
import re
import sys
import time

PKG = "hierarchical_graph_db_spark"

#: (layer, module, public functions wrapped; None = every public function
#: the module defines)
FUNCTION_LAYERS = [
    ("materialize", f"{PKG}.materialize", ["materialize"]),
    ("localdf.pull", f"{PKG}.localdf", ["collect_tuples"]),
    ("localdf.emit", f"{PKG}.localdf", ["local_rows_df"]),
    ("operators.graph", f"{PKG}.operators.graph", None),
    ("operators.dedup_fuzzy", f"{PKG}.operators.dedup_fuzzy", None),
    ("operators.clustering", f"{PKG}.operators.clustering", None),
    ("operators.ivf", f"{PKG}.operators.ivf", None),
    ("operators.pq", f"{PKG}.operators.pq", None),
    ("operators.similarity", f"{PKG}.operators.similarity", None),
    ("operators.training", f"{PKG}.operators.training", None),
    ("operators.dedup_merge", f"{PKG}.operators.dedup_merge",
     ["dedup_merge", "merge_into"]),
    ("pipelines", f"{PKG}.pipelines", ["curate_corpus"]),
    ("sources.maildir", f"{PKG}.sources.maildir", ["parse_emails"]),
]
#: (layer, module, class, method)
METHOD_LAYERS = [
    ("streaming.ingest", f"{PKG}.streaming.ingest", "DedupParquetSink",
     "__call__"),
    ("streaming.store.read", f"{PKG}.streaming.store",
     "BucketedParquetStore", "read"),
    ("streaming.store.commit", f"{PKG}.streaming.store",
     "BucketedParquetStore", "commit"),
    ("streaming.store.vacuum", f"{PKG}.streaming.store",
     "BucketedParquetStore", "vacuum"),
]

_MODULE_LAYERS = ["graph", "dedup_fuzzy", "clustering", "ivf", "pq",
                  "similarity", "training"]

#: Every per-layer metric a traced run reports, with its unit. Values are
#: per operation of the workload (an ingest cycle, a query, a curation
#: pass, a graph suite) except ``session.*``, which are per run.
LAYER_METRICS: list[tuple[str, str]] = [
    ("session.start_s", "s"), ("session.warmup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("driver.gap_s", "s"), ("catalyst.plan_s", "s"),
    ("queries.run_s", "s"), ("queries.collect_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.job_wall_s", "s"),
    ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"), ("spark.core_busy_frac", "ratio"),
    ("spark.input_bytes", "B"), ("spark.shuffle_write_bytes", "B"),
    ("spark.shuffle_read_bytes", "B"), ("spark.spill_bytes", "B"),
    ("materialize.calls", "count"), ("materialize.s", "s"),
    ("localdf.pull_calls", "count"), ("localdf.pull_rows", "count"),
    ("localdf.pull_s", "s"), ("localdf.emit_s", "s"),
    ("operators.graph.s", "s"), ("operators.graph.supersteps", "count"),
    ("operators.graph.jobs_per_superstep", "count"),
    ("operators.graph.shuffle_bytes_per_superstep", "B"),
    *[(f"operators.{m}.{k}", u) for m in _MODULE_LAYERS if m != "graph"
      for k, u in (("s", "s"), ("jobs", "count"))],
    ("operators.graph.jobs", "count"),
    ("pipelines.curate_corpus_s", "s"),
    ("sources.maildir.emails_in", "count"),
    ("sources.maildir.quarantined", "count"),
    ("operators.dedup_merge.s", "s"),
    ("streaming.ingest.sink_s", "s"),
    ("streaming.ingest.jobs_per_batch", "count"),
    ("streaming.store.read_s", "s"), ("streaming.store.commit_s", "s"),
    ("streaming.store.vacuum_s", "s"),
    ("streaming.store.buckets_touched", "count"),
    ("streaming.store.bytes_written", "B"),
    ("streaming.store.files_written", "count"),
    ("streaming.store.bytes_per_email", "B"),
]


class NullTracer:
    """Untraced runs: the same interface, recording nothing."""

    traced = False

    @contextlib.contextmanager
    def op(self, name: str, timed: bool = True):
        yield None

    @contextlib.contextmanager
    def span(self, layer: str, name: str = ""):
        yield {}


class Tracer:
    """Spans in memory: ``[layer, name, start, end, parent, op, counts]``
    with wall-clock start/end (the clock the event log uses)."""

    traced = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.ops: list[int] = []          # span index of each operation
        self._stack: list[int] = []

    def _open(self, layer: str, name: str) -> dict:
        s = {"layer": layer, "name": name, "start": time.time(), "end": None,
             "parent": self._stack[-1] if self._stack else None,
             "op": self.ops[-1] if self._stack else None, "counts": {}}
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        return s

    def _close(self, s: dict) -> None:
        s["end"] = time.time()
        self._stack.pop()

    @contextlib.contextmanager
    def op(self, name: str, timed: bool = True):
        """One workload operation: its own Spark job group."""
        idx = len(self.spans)
        self.ops.append(idx)
        self.sc.setJobGroup(f"bench-op-{idx}", name)
        s = self._open("op", name)
        s["timed"] = timed
        s["op"] = idx
        try:
            yield s
        finally:
            self._close(s)
            self.sc.setJobGroup("bench-untimed", "between operations")

    @contextlib.contextmanager
    def span(self, layer: str, name: str = ""):
        s = self._open(layer, name)
        try:
            yield s["counts"]
        finally:
            self._close(s)

    # -- wrapping the engine's public functions -----------------------------
    def _wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(layer, fn.__qualname__) as counts:
                out = fn(*args, **kwargs)
                if layer == "localdf.pull":
                    counts["rows"] = len(out)
                return out

        traced.__wrapped_by_bench__ = True
        return traced

    def install(self) -> None:
        """Wrap every function in FUNCTION_LAYERS wherever the engine's
        modules hold a reference to it (``from x import f`` copies the
        binding), and every method in METHOD_LAYERS on its class."""
        from hierarchical_graph_db_spark.queries import load

        load()   # imports every query module, so every binding exists
        for layer, modname, names in FUNCTION_LAYERS:
            mod = importlib.import_module(modname)
            if names is None:
                names = [n for n, v in vars(mod).items()
                         if callable(v) and not n.startswith("_")
                         and getattr(v, "__module__", None) == modname
                         and not isinstance(v, type)]
            for n in names:
                orig = getattr(mod, n)
                wrapped = self._wrap(layer, orig)
                for m in list(sys.modules.values()):
                    if (getattr(m, "__name__", "").startswith(PKG)
                            and getattr(m, n, None) is orig):
                        setattr(m, n, wrapped)
        for layer, modname, cls, meth in METHOD_LAYERS:
            klass = getattr(importlib.import_module(modname), cls)
            setattr(klass, meth, self._wrap(layer, getattr(klass, meth)))


# -- event log --------------------------------------------------------------

_WANTED = ("SparkListenerJobStart", "SparkListenerJobEnd",
           "SparkListenerStageCompleted", "SparkListenerTaskEnd")


def _log_files(log_dir: str) -> list[str]:
    """Event log files in write order (plain or rolling ``events_N_`` )."""
    files = [f for f in glob.glob(os.path.join(log_dir, "**", "*"),
                                  recursive=True)
             if os.path.isfile(f) and not os.path.basename(f).startswith(
                 ("appstatus", "."))]

    def order(f):
        m = re.match(r"events_(\d+)_", os.path.basename(f))
        return (os.path.dirname(f), int(m.group(1)) if m else 0)

    return sorted(files, key=order)


def read_event_log(log_dir: str) -> dict:
    """Jobs, completed stages and per-stage task totals from the log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    for path in _log_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                head = line[:64]
                if not any(w in head for w in _WANTED):
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "group": (ev.get("Properties") or {}).get(
                            "spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None}
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    stages.setdefault(sid, _empty_stage())["completed"] = True
                else:
                    st = stages.setdefault(ev["Stage ID"], _empty_stage())
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["tasks"] += 1
                    st["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    st["input_bytes"] += (m.get("Input Metrics") or {}).get(
                        "Bytes Read", 0)
                    st["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                 + sr.get("Local Bytes Read", 0))
                    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    st["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                          + m.get("Disk Bytes Spilled", 0))
    for sid, st in stages.items():
        st["job"] = stage_job.get(sid)
    return {"jobs": jobs, "stages": stages}


def _empty_stage() -> dict:
    return {"tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "input_bytes": 0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "completed": False}


# -- joining spans with jobs ------------------------------------------------

def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _covered(span: dict, intervals: list[tuple[float, float]]) -> float:
    """Part of ``span`` covered by ``intervals`` (clipped to the span)."""
    clipped = [(max(s, span["start"]), min(e, span["end"]))
               for s, e in intervals]
    return _union([(s, e) for s, e in clipped if e > s])


def attribute(spans: list[dict], log: dict) -> None:
    """Give every op span its jobs (job group first, else submission
    time), and every inner span the jobs its interval contains."""
    ops = {i: s for i, s in enumerate(spans) if s["layer"] == "op"}
    by_group = {f"bench-op-{i}": i for i in ops}
    op_windows = sorted((s["start"], s["end"], i) for i, s in ops.items())
    for s in spans:
        s["jobs"] = []
    for jid, j in sorted(log["jobs"].items()):
        if j["end"] is None:
            continue
        oi = by_group.get(j["group"])
        if oi is None:
            oi = next((i for a, b, i in op_windows
                       if a <= j["start"] <= b), None)
        if oi is None:
            continue
        j["op"] = oi
        spans[oi]["jobs"].append(jid)
    for s in spans:
        if s["layer"] == "op" or s["op"] is None:
            continue
        s["jobs"] = [jid for jid in spans[s["op"]]["jobs"]
                     if s["start"] <= log["jobs"][jid]["start"] <= s["end"]]


def op_records(spans: list[dict], log: dict, cores: int) -> list[dict]:
    """Per operation: wall, jobs/stages/tasks, task totals, and the
    decomposition wall = driver gap + job wall + result transfer.

    Job wall (the union of the operation's job intervals, from the event
    log) and transfer (the part of ``collect()`` no job covers) are
    measured; the driver gap is the residual, the part of the operation's
    window that neither covers. The decomposition is therefore exact when
    every job attributed to the operation lies inside its window, and
    ``decomposition_error`` is the share of job time that lies outside it:
    a job tied to the wrong operation, or the event log's clock
    disagreeing with the driver's."""
    stages_of: dict[int, list[dict]] = {}
    for st in log["stages"].values():
        if st["job"] is not None and st["tasks"]:
            stages_of.setdefault(st["job"], []).append(st)
    children: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(i)
    out = []
    for i, s in enumerate(spans):
        if s["layer"] != "op":
            continue
        ivs = [(log["jobs"][j]["start"], log["jobs"][j]["end"])
               for j in s["jobs"]]
        job_wall = _union(ivs)
        wall = s["end"] - s["start"]
        transfer = 0.0
        for c in children.get(i, []):
            if spans[c]["layer"] == "queries.collect":
                cs = spans[c]
                transfer += (cs["end"] - cs["start"]) - _covered(cs, ivs)
        gap = wall - _covered(s, ivs) - transfer
        sts = [st for j in s["jobs"] for st in stages_of.get(j, [])]
        rec = {"name": s["name"], "timed": s.get("timed", True),
               "wall_s": wall, "jobs": len(s["jobs"]),
               "stages": len(sts), "tasks": sum(t["tasks"] for t in sts),
               "job_wall_s": job_wall, "driver_gap_s": gap,
               "transfer_s": transfer,
               "catalyst_s": s["counts"].get("catalyst_s", 0.0),
               "decomposition_error": abs(gap + job_wall + transfer - wall)
               / wall if wall > 0 else 0.0}
        for k in ("run_s", "cpu_s", "gc_s", "input_bytes",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            rec[k] = sum(t[k] for t in sts)
        rec["core_busy_frac"] = (rec["run_s"] / (job_wall * cores)
                                 if job_wall > 0 else 0.0)
        out.append(rec)
    return out


def self_times(spans: list[dict]) -> list[float]:
    """Each span's wall minus the time its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return [(s["end"] - s["start"]) - _covered(s, kids.get(i, []))
            for i, s in enumerate(spans)]


def layer_metrics(spans: list[dict], log: dict, cores: int, n_units: int,
                  extra: dict) -> tuple[dict, list[dict]]:
    """Per-layer metrics over the timed operations, divided by the number
    of timed workload units; ``extra`` supplies the values only the
    workload knows (session times, store bytes, email counts)."""
    attribute(spans, log)
    records = op_records(spans, log, cores)
    timed_ops = {i for i, s in enumerate(spans)
                 if s["layer"] == "op" and s.get("timed", True)}
    n = max(1, n_units)
    shuffle_of_job: dict[int, int] = {}
    for st in log["stages"].values():
        if st["job"] is not None:
            shuffle_of_job[st["job"]] = (shuffle_of_job.get(st["job"], 0)
                                         + st["shuffle_write_bytes"])
    selfs = self_times(spans)
    inside = [s["op"] in timed_ops for s in spans]
    tot: dict[str, float] = {}

    def add(k, v):
        tot[k] = tot.get(k, 0.0) + v

    def ancestor_layer(i, layer):
        p = spans[i]["parent"]
        while p is not None:
            if spans[p]["layer"] == layer:
                return True
            p = spans[p]["parent"]
        return False

    for i, s in enumerate(spans):
        if not inside[i] or s["layer"] == "op":
            continue
        layer = s["layer"]
        add(f"{layer}.self_s", selfs[i])
        add(f"{layer}.calls", 1)
        add(f"{layer}.rows", s["counts"].get("rows", 0))
        if not ancestor_layer(i, layer):   # inclusive counts: outermost only
            add(f"{layer}.jobs", len(s["jobs"]))
            add(f"{layer}.shuffle", sum(shuffle_of_job.get(j, 0)
                                        for j in s["jobs"]))
        if layer == "materialize" and ancestor_layer(i, "operators.graph"):
            add("graph.supersteps", 1)
        if layer == "streaming.ingest":
            add("sink.calls", 1)
    for rec, i in zip(records, [i for i, s in enumerate(spans)
                                if s["layer"] == "op"]):
        if i not in timed_ops:
            continue
        add("catalyst", rec["catalyst_s"])
        add("gap", rec["driver_gap_s"])
        for k in ("jobs", "stages", "tasks", "job_wall_s", "run_s", "cpu_s",
                  "gc_s", "input_bytes", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes"):
            add(f"op.{k}", rec[k])

    def per(k):
        return tot.get(k, 0.0) / n

    steps = tot.get("graph.supersteps", 0.0)
    m = {
        "driver.gap_s": per("gap"), "catalyst.plan_s": per("catalyst"),
        "queries.run_s": per("queries.run.self_s"),
        "queries.collect_s": per("queries.collect.self_s"),
        "spark.jobs": per("op.jobs"), "spark.stages": per("op.stages"),
        "spark.tasks": per("op.tasks"),
        "spark.job_wall_s": per("op.job_wall_s"),
        "spark.executor_run_s": per("op.run_s"),
        "spark.executor_cpu_s": per("op.cpu_s"), "spark.gc_s": per("op.gc_s"),
        "spark.core_busy_frac": (tot.get("op.run_s", 0.0)
                                 / (tot["op.job_wall_s"] * cores)
                                 if tot.get("op.job_wall_s") else 0.0),
        "spark.input_bytes": per("op.input_bytes"),
        "spark.shuffle_write_bytes": per("op.shuffle_write_bytes"),
        "spark.shuffle_read_bytes": per("op.shuffle_read_bytes"),
        "spark.spill_bytes": per("op.spill_bytes"),
        "materialize.calls": per("materialize.calls"),
        "materialize.s": per("materialize.self_s"),
        "localdf.pull_calls": per("localdf.pull.calls"),
        "localdf.pull_rows": per("localdf.pull.rows"),
        "localdf.pull_s": per("localdf.pull.self_s"),
        "localdf.emit_s": per("localdf.emit.self_s"),
        "operators.graph.supersteps": steps / n,
        "operators.graph.jobs_per_superstep": (
            tot.get("operators.graph.jobs", 0.0) / steps if steps else 0.0),
        "operators.graph.shuffle_bytes_per_superstep": (
            tot.get("operators.graph.shuffle", 0.0) / steps if steps else 0.0),
        "pipelines.curate_corpus_s": per("pipelines.self_s"),
        "operators.dedup_merge.s": per("operators.dedup_merge.self_s"),
        "streaming.ingest.sink_s": per("streaming.ingest.self_s"),
        "streaming.ingest.jobs_per_batch": (
            tot.get("streaming.ingest.jobs", 0.0) / tot["sink.calls"]
            if tot.get("sink.calls") else 0.0),
        "streaming.store.read_s": per("streaming.store.read.self_s"),
        "streaming.store.commit_s": per("streaming.store.commit.self_s"),
        "streaming.store.vacuum_s": per("streaming.store.vacuum.self_s"),
    }
    for mod in _MODULE_LAYERS:
        m[f"operators.{mod}.s"] = per(f"operators.{mod}.self_s")
        m[f"operators.{mod}.jobs"] = per(f"operators.{mod}.jobs")
    for k, v in extra.items():
        m[k] = v
    missing = [k for k, _ in LAYER_METRICS if k not in m]
    for k in missing:
        m[k] = 0.0
    return {k: m[k] for k, _ in LAYER_METRICS}, records


def catalyst_seconds(df) -> float:
    """Analysis + optimization + planning time Catalyst recorded for the
    DataFrame's query execution (read after it has run)."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += opt.get().durationMs() / 1000.0
    return total


def peak_rss_mb(jvm_pid: int) -> float:
    """VmHWM of the driver JVM plus this Python process, in MB."""
    total = 0
    for pid in (jvm_pid, os.getpid()):
        with open(f"/proc/{pid}/status", encoding="utf-8") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0

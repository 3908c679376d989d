"""Traced run: spans around the calls into each layer, plus a per-query
Spark job ledger — all from outside the program.

The tracer wraps public functions by replacing module attributes (and
``DataFrame.localCheckpoint`` on the classic DataFrame class), so no
file of the engine changes.  Spans are kept in memory as
``(name, start, end, parent)`` with wall-clock seconds (the same clock
as the Spark status store's job times) and are reduced to per-layer
numbers when the run ends.  Each query runs under its own job group;
its jobs are read from ``statusStore()`` right after it finishes,
because the store keeps only the most recent jobs.
"""

from __future__ import annotations

import functools
import json
import os
import resource
import time

from py4j.protocol import Py4JJavaError

from projet_graphdb_spark import plans
from projet_graphdb_spark import sources
from projet_graphdb_spark.engine import executor
from projet_graphdb_spark.functions import graph_algos
from projet_graphdb_spark.functions import materialize as materialize_mod
from projet_graphdb_spark.sources import parquet_graph

# span name -> (module, attribute) wrapped under that name.  The
# frontend passes are wrapped where the executor imported them.
WRAPPED = {
    "frontend.parse": [(executor, "parse")],
    "frontend.normalize": [(executor, "normalize")],
    "frontend.typecheck": [(executor, "typecheck")],
    "plans.prefix_fold": [(plans, "fold_literal_prefix")],
    "engine.run_program": [(executor, "run_program")],
    "engine.binding_table": [(executor, "binding_table")],
    "materialize.materialize": [(materialize_mod, "materialize")],
    "sources.load_tpch_graph": [(parquet_graph, "load_tpch_graph"),
                                (sources, "load_tpch_graph")],
}

PER_LAYER = [
    ("frontend.parse_ms", "ms"), ("frontend.normalize_ms", "ms"),
    ("frontend.typecheck_ms", "ms"), ("plans.prefix_fold_ms", "ms"),
    ("engine.lower_ms", "ms"), ("engine.eager_jobs", "count"),
    ("catalyst.plan_ms", "ms"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.job_busy_s", "s"), ("spark.driver_gap_s", "s"),
    ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
    ("spark.slot_util", "ratio"), ("spark.input_mb", "MB"),
    ("spark.shuffle_write_mb", "MB"), ("spark.spill_mb", "MB"),
    ("materialize.calls", "count"), ("materialize.s", "s"),
    ("graph_algos.supersteps", "count"), ("graph_algos.jobs_per_superstep", "ratio"),
    ("similarity.pairs_out", "count"), ("similarity.recall", "ratio"),
    ("sources.load_tpch_graph_cold_ms", "ms"), ("sources.load_tpch_graph_warm_ms", "ms"),
    ("proc.driver_peak_rss_mb", "MB"), ("trace.overhead_frac", "ratio"),
]


def _merge(intervals) -> list:
    """Union of (start, end) intervals as disjoint sorted intervals."""
    out = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def _measure(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    return sum(e - s for s, e in _merge(intervals))


def _clip(intervals, lo: float, hi: float) -> list:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_time(spans: list, name_set: set, child_names: set, jobs: list) -> float:
    """Time inside spans named in ``name_set`` not covered by a child span
    (``child_names``) or a Spark job interval."""
    own = [(s, e) for n, s, e, _ in spans if n in name_set]
    busy = [(s, e) for n, s, e, _ in spans if n in child_names] + list(jobs)
    total = _measure(own)
    covered = 0.0
    for s, e in _merge(own):
        covered += _measure(_clip(busy, s, e))
    return total - covered


class Tracer:
    def __init__(self, spark, workload):
        self.sc = spark.sparkContext
        self.wl = workload
        self.spans: list = []
        self._stack: list = []
        self._saved: list = []
        self.records: list = []  # one dict per traced query
        self.cold_load_ms = None
        self._eager_ids: set = set()
        self._plan_ms = 0.0
        self._gid = None
        self._df_cls = type(spark.range(1))

    # -- wrappers ---------------------------------------------------------

    def _span(self, name, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            parent = tracer._stack[-1] if tracer._stack else None
            tracer._stack.append(name)
            t0 = time.time()
            try:
                return fn(*a, **kw)
            finally:
                tracer.spans.append((name, t0, time.time(), parent))
                tracer._stack.pop()

        return wrapper

    def install(self):
        for name, targets in WRAPPED.items():
            for mod, attr in targets:
                orig = getattr(mod, attr)
                self._saved.append((mod, attr, orig))
                setattr(mod, attr, self._span(name, orig))
        orig_lc = self._df_cls.localCheckpoint
        self._saved.append((self._df_cls, "localCheckpoint", orig_lc))
        lc_span = self._span("materialize.localCheckpoint", orig_lc)
        tracer = self

        def local_checkpoint(df, *a, **kw):
            # a checkpoint taken inside materialize() is that call's own
            if "materialize.materialize" in tracer._stack:
                return orig_lc(df, *a, **kw)
            return lc_span(df, *a, **kw)

        self._df_cls.localCheckpoint = local_checkpoint
        graph_algos.PLAN_PROBE = []
        self.wl.before_action = self._before_action

    def uninstall(self):
        for mod, attr, orig in reversed(self._saved):
            setattr(mod, attr, orig)
        self._saved.clear()
        graph_algos.PLAN_PROBE = None
        self.wl.before_action = None

    # -- per query --------------------------------------------------------

    def _before_action(self, df):
        self._eager_ids = set(self.sc.statusTracker().getJobIdsForGroup(self._gid))
        t0 = time.time()
        df._jdf.queryExecution().executedPlan()
        self._plan_ms = (time.time() - t0) * 1e3

    def take_cold_load(self):
        loads = [s for s in self.spans if s[0] == "sources.load_tpch_graph"]
        if loads:
            self.cold_load_ms = (loads[0][2] - loads[0][1]) * 1e3

    def begin(self, qid: int):
        self.spans = []
        self._eager_ids = set()
        self._plan_ms = 0.0
        del graph_algos.PLAN_PROBE[:]
        self._gid = f"perfbench-q{qid}"
        self.sc.setJobGroup(self._gid, self._gid)
        self._t0 = time.time()

    def end(self, shape: str) -> dict:
        t1 = time.time()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = self._ledger()
        spans = self.spans
        job_iv = [(j["start"], j["end"]) for j in jobs]
        rec = {
            "shape": shape,
            "wall_s": t1 - self._t0,
            "spans": spans,
            "jobs": jobs,
            "supersteps": len(graph_algos.PLAN_PROBE),
            "eager_jobs": sum(1 for j in jobs if j["id"] in self._eager_ids),
            "plan_ms": self._plan_ms,
            "job_busy_s": _measure(_clip(job_iv, self._t0, t1)),
            "lower_s": self_time(
                spans,
                {"engine.run_program", "engine.binding_table"},
                {"frontend.parse", "frontend.normalize", "frontend.typecheck",
                 "plans.prefix_fold"},
                job_iv,
            ),
            "info": {},  # filled from the checker after the run
        }
        del graph_algos.PLAN_PROBE[:]
        self.records.append(rec)
        return rec

    def _ledger(self) -> list:
        store = self.sc._jsc.sc().statusStore()
        out = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(self._gid):
            jd = store.job(jid)
            if not jd.submissionTime().isDefined() or not jd.completionTime().isDefined():
                continue
            job = {"id": jid, "start": jd.submissionTime().get().getTime() / 1e3,
                   "end": jd.completionTime().get().getTime() / 1e3,
                   "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
                   "input_b": 0, "shuffle_w_b": 0, "spill_b": 0}
            sids = str(jd.stageIds().mkString(","))
            for sid in filter(None, sids.split(",")):
                try:
                    sd = store.lastStageAttempt(int(sid))
                except Py4JJavaError:
                    # the store evicts skipped stages first once it holds
                    # spark.ui.retainedStages of them
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                job["stages"] += 1
                job["tasks"] += sd.numCompleteTasks()
                job["run_s"] += sd.executorRunTime() / 1e3
                job["cpu_s"] += sd.executorCpuTime() / 1e9
                job["input_b"] += sd.inputBytes()
                job["shuffle_w_b"] += sd.shuffleWriteBytes()
                job["spill_b"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out.append(job)
        return out

    # -- report -----------------------------------------------------------

    def metrics(self, overhead_frac: float, cores: int) -> dict:
        recs = self.records
        n = max(len(recs), 1)

        def span_ms(name):
            return sum(e - s for r in recs for nm, s, e, _ in r["spans"] if nm == name) * 1e3 / n

        def job_sum(key):
            return sum(j[key] for r in recs for j in r["jobs"])

        busy = sum(r["job_busy_s"] for r in recs)
        run_s = job_sum("run_s")
        steps = sum(r["supersteps"] for r in recs)
        step_jobs = sum(len(r["jobs"]) for r in recs if r["supersteps"])
        found = sum(r["info"].get("found", 0) for r in recs)
        true = sum(r["info"].get("true", 0) for r in recs)
        pair_qs = sum(1 for r in recs if "found" in r["info"])
        mat_calls = sum(
            1 for r in recs for nm, *_ in r["spans"]
            if nm in ("materialize.materialize", "materialize.localCheckpoint")
        )
        warm_loads = [
            (e - s) * 1e3 for r in recs for nm, s, e, _ in r["spans"]
            if nm == "sources.load_tpch_graph"
        ]
        values = {
            "frontend.parse_ms": span_ms("frontend.parse"),
            "frontend.normalize_ms": span_ms("frontend.normalize"),
            "frontend.typecheck_ms": span_ms("frontend.typecheck"),
            "plans.prefix_fold_ms": span_ms("plans.prefix_fold"),
            "engine.lower_ms": sum(r["lower_s"] for r in recs) * 1e3 / n,
            "engine.eager_jobs": sum(r["eager_jobs"] for r in recs) / n,
            "catalyst.plan_ms": sum(r["plan_ms"] for r in recs) / n,
            "spark.jobs": sum(len(r["jobs"]) for r in recs) / n,
            "spark.stages": job_sum("stages") / n,
            "spark.tasks": job_sum("tasks") / n,
            "spark.job_busy_s": busy / n,
            "spark.driver_gap_s": sum(r["wall_s"] - r["job_busy_s"] for r in recs) / n,
            "spark.executor_run_s": run_s / n,
            "spark.executor_cpu_s": job_sum("cpu_s") / n,
            "spark.slot_util": run_s / (busy * cores) if busy else 0.0,
            "spark.input_mb": job_sum("input_b") / 1e6 / n,
            "spark.shuffle_write_mb": job_sum("shuffle_w_b") / 1e6 / n,
            "spark.spill_mb": job_sum("spill_b") / 1e6 / n,
            "materialize.calls": mat_calls / n,
            "materialize.s": (span_ms("materialize.materialize")
                              + span_ms("materialize.localCheckpoint")) / 1e3,
            "graph_algos.supersteps": steps / n,
            "graph_algos.jobs_per_superstep": step_jobs / steps if steps else 0.0,
            "similarity.pairs_out": found / pair_qs if pair_qs else 0.0,
            # useful-outcome ratio; vacuously 1 where no pair operator ran
            "similarity.recall": found / true if true else 1.0,
            "sources.load_tpch_graph_cold_ms": self.cold_load_ms or 0.0,
            "sources.load_tpch_graph_warm_ms":
                sum(warm_loads) / len(warm_loads) if warm_loads else 0.0,
            "proc.driver_peak_rss_mb": driver_peak_rss_mb(self.sc),
            "trace.overhead_frac": overhead_frac,
        }
        return {k: {"value": values[k], "unit": u} for k, u in PER_LAYER}

    def dump(self, path: str) -> None:
        """Write every span and job of the run (one JSON object per query)."""
        with open(path, "w") as f:
            for r in self.records:
                f.write(json.dumps(r, default=str) + "\n")


def driver_peak_rss_mb(sc) -> float:
    """Peak resident memory of the driver: this Python process plus the
    driver JVM it launched (``VmHWM`` from /proc)."""
    py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    jvm_mb = 0.0
    proc = getattr(getattr(sc, "_gateway", None), "proc", None)
    if proc is not None and os.path.exists(f"/proc/{proc.pid}/status"):
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_mb = int(line.split()[1]) / 1024
    return py_mb + jvm_mb

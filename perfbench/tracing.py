"""Layer tracing for the benchmark's traced run.

Every public function of a ``scalding_spark`` module, and every public method
of the classes it defines, is wrapped in a span named after its layer (the
module). Names bound at import time elsewhere (``from ..session import
materialize``, ``__spark_entry__``'s ``Pipe``/``sessionize``) are re-pointed
at the wrapper as well, so calls through them are seen.

Spans live in memory. Spark jobs are joined to spans afterwards from the
application status store: a job belongs to the innermost span that was open
when it was submitted. The driver submits jobs from one thread (a closed
loop with one client), so submission time identifies the call that started
it.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import statistics
import sys
import time

LAYERS = {
    "pipe": "scalding_spark.pipe",
    "grouping": "scalding_spark.grouping",
    "joins": "scalding_spark.joins",
    "matrix": "scalding_spark.matrix",
    "streaming": "scalding_spark.streaming",
    "session": "scalding_spark.session",
    "job": "scalding_spark.job",
    "dedup": "scalding_spark.functions.dedup",
    "similarity": "scalding_spark.functions.similarity",
    "text": "scalding_spark.functions.text",
    "lm": "scalding_spark.functions.lm",
    "sampling": "scalding_spark.functions.sampling",
    "bloom": "scalding_spark.functions.bloom",
    "evaluation": "scalding_spark.functions.evaluation",
    "web": "scalding_spark.functions.web",
}
SINK = "sink"
LAYER_METRICS = ("calls", "self_s", "jobs", "shuffle_write_bytes")
SINK_METRICS = ("self_s", "jobs", "stages", "shuffle_write_bytes")
SPARK_METRICS = ("jobs", "stages", "tasks", "shuffle_write_bytes",
                 "shuffle_read_bytes", "spill_bytes", "input_bytes",
                 "executor_run_s", "executor_cpu_s", "gc_s", "task_skew",
                 "sched_delay_s", "driver_gap_s")


def _own_callables(mod_name: str):
    """(owner, attribute, original) for the public functions of a module
    (a package includes its private submodules' re-exports) and the public
    methods of the classes it defines."""
    mod = importlib.import_module(mod_name)

    def ours(obj):
        m = getattr(obj, "__module__", "") or ""
        return m == mod_name or m.startswith(mod_name + ".")

    for name, obj in list(vars(mod).items()):
        if name.startswith("_"):
            continue
        if inspect.isfunction(obj) and ours(obj):
            yield mod, name, obj
        elif inspect.isclass(obj) and ours(obj) and obj.__module__ == mod_name:
            for attr, raw in list(vars(obj).items()):
                if attr.startswith("_"):
                    continue
                if isinstance(raw, (staticmethod, classmethod)) \
                        or inspect.isfunction(raw):
                    yield obj, attr, raw


class Tracer:
    """Owns the spans of one traced pass and the patches that record them."""

    def __init__(self, repo_root: str):
        self.repo_root = repo_root
        self.spans: list[list] = []  # [layer, name, t0, t1, parent]
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------------
    def _wrap(self, fn, layer: str, name: str):
        spans, stack, clock = self.spans, self._stack, time.time

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            i = len(spans)
            spans.append([layer, name, clock(), None,
                          stack[-1] if stack else -1])
            stack.append(i)
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                spans[i][3] = clock()
        return traced

    def _set(self, owner, attr, new):
        self._patches.append((owner, attr, vars(owner)[attr]))
        setattr(owner, attr, new)

    def install(self) -> None:
        """Patch every layer, then re-point the import-time bindings found
        in the repo's loaded modules at the wrappers."""
        replaced: dict[int, object] = {}
        for layer, mod_name in LAYERS.items():
            for owner, attr, raw in _own_callables(mod_name):
                if isinstance(raw, (staticmethod, classmethod)):
                    fn = raw.__func__
                    new = type(raw)(self._wrap(fn, layer, f"{owner.__name__}.{attr}"))
                else:
                    fn = raw
                    qual = attr if inspect.ismodule(owner) \
                        else f"{owner.__name__}.{attr}"
                    new = self._wrap(fn, layer, qual)
                    replaced[id(fn)] = new
                self._set(owner, attr, new)
        for mod in list(sys.modules.values()):
            path = getattr(mod, "__file__", None) or ""
            if not path.startswith(self.repo_root):
                continue
            for attr, val in list(vars(mod).items()):
                new = replaced.get(id(val))
                if new is not None and val is not new:
                    self._set(mod, attr, new)
        from pyspark.sql.readwriter import DataFrameWriter
        for attr in ("save", "parquet", "csv", "json"):
            self._set(DataFrameWriter, attr,
                      self._wrap(vars(DataFrameWriter)[attr], SINK,
                                 f"DataFrameWriter.{attr}"))

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._patches):
            setattr(owner, attr, old)
        self._patches.clear()

    # -- reduction ---------------------------------------------------------
    def self_times(self) -> list[float]:
        out = [s[3] - s[2] for s in self.spans]
        for s in self.spans:
            if s[4] >= 0:
                out[s[4]] -= s[3] - s[2]
        return out

    def owner_of(self, times: list[float]) -> list[int]:
        """Innermost span open at each wall-clock time (-1: none)."""
        bounds = sorted([(s[2], 1, i) for i, s in enumerate(self.spans)]
                        + [(s[3], 0, i) for i, s in enumerate(self.spans)])
        order = sorted(range(len(times)), key=times.__getitem__)
        owner = [-1] * len(times)
        stack: list[int] = []
        b = 0
        for j in order:
            while b < len(bounds) and bounds[b][0] <= times[j]:
                _, opening, i = bounds[b]
                if opening:
                    stack.append(i)
                elif stack and stack[-1] == i:
                    stack.pop()
                elif i in stack:
                    stack.remove(i)
                b += 1
            owner[j] = stack[-1] if stack else -1
        return owner


# -- Spark application status store --------------------------------------

def _mapper(spark):
    gw = spark.sparkContext._gateway
    jvm = gw.jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala,
                        "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_mod, "MODULE$"))
    return mapper


def status_snapshot(spark, since_ms: float) -> dict:
    """Jobs submitted at or after ``since_ms`` (epoch millis) and the stages
    and tasks they ran, read from the status store as JSON."""
    sc = spark.sparkContext
    gw = sc._gateway
    store = sc._jsc.sc().statusStore()
    mapper = _mapper(spark)
    jobs = [j for j in json.loads(mapper.writeValueAsString(store.jobsList(None)))
            if j.get("submissionTime") and j["submissionTime"] >= since_ms]
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    stages = json.loads(mapper.writeValueAsString(store.stageList(
        gw.jvm.java.util.ArrayList(), False, False,
        gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList())))
    stages = [s for s in stages if s["stageId"] in stage_ids
              and s["status"] in ("COMPLETE", "FAILED", "ACTIVE")]
    for s in stages:
        s["tasks"] = [
            {"duration": t.get("duration"), "schedulerDelay": t.get("schedulerDelay", 0)}
            for t in json.loads(mapper.writeValueAsString(
                store.taskList(s["stageId"], s["attemptId"], 2**31 - 1)))]
    return {"jobs": jobs, "stages": stages}


def reduce_pass(tracer: Tracer, snap: dict, t0: float, t1: float) -> dict:
    """Per-layer and per-pass metrics of one traced pass [t0, t1]."""
    jobs = sorted(snap["jobs"], key=lambda j: j["jobId"])
    stage_by_id: dict[int, dict] = {}
    for s in snap["stages"]:
        stage_by_id.setdefault(s["stageId"], s)
    # each executed stage is charged to the first job that lists it
    seen: set[int] = set()
    job_stages: list[list[dict]] = []
    for j in jobs:
        mine = [stage_by_id[i] for i in sorted(j["stageIds"])
                if i in stage_by_id and i not in seen]
        seen.update(s["stageId"] for s in mine)
        job_stages.append(mine)
    submit = [j["submissionTime"] / 1000 + 0.0005 for j in jobs]
    owners = tracer.owner_of(submit)
    selfs = tracer.self_times()

    names = list(LAYERS) + [SINK]
    acc = {n: {"calls": 0, "self_s": 0.0, "jobs": 0, "stages": 0,
               "shuffle_write_bytes": 0} for n in names}
    for i, s in enumerate(tracer.spans):
        a = acc[s[0]]
        a["calls"] += 1
        a["self_s"] += selfs[i]
    for j, owner in enumerate(owners):
        if owner < 0:
            continue
        a = acc[tracer.spans[owner][0]]
        a["jobs"] += 1
        a["stages"] += len(job_stages[j])
        a["shuffle_write_bytes"] += sum(s["shuffleWriteBytes"]
                                        for s in job_stages[j])

    out: dict[str, float] = {}
    for layer in LAYERS:
        for m in LAYER_METRICS:
            out[f"{layer}.{m}"] = acc[layer][m]
    for m in SINK_METRICS:
        out[f"{SINK}.{m}"] = acc[SINK][m]

    stages = [s for st in job_stages for s in st]
    skews, weights = [], []
    for s in stages:
        d = sorted(t["duration"] for t in s["tasks"] if t["duration"] is not None)
        if len(d) >= 2 and statistics.median(d) > 0:
            skews.append(d[-1] / statistics.median(d))
            weights.append(s["executorRunTime"])
    # pass time during which no job was running
    spans = sorted((j["submissionTime"] / 1000,
                    j["completionTime"] / 1000 if j.get("completionTime")
                    else t1) for j in jobs)
    busy, end = 0.0, t0
    for a, b in spans:
        a, b = max(a, end), min(b, t1)
        if b > a:
            busy += b - a
            end = b
    spark = {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s["numCompleteTasks"] for s in stages),
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
        "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                           for s in stages),
        "input_bytes": sum(s["inputBytes"] for s in stages),
        "executor_run_s": sum(s["executorRunTime"] for s in stages) / 1000,
        "executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "gc_s": sum(s["jvmGcTime"] for s in stages) / 1000,
        # run-time-weighted mean over stages of max/median task duration
        "task_skew": (sum(k * w for k, w in zip(skews, weights)) / sum(weights)
                      if weights and sum(weights) > 0 else 1.0),
        "sched_delay_s": sum(t["schedulerDelay"] or 0 for s in stages
                             for t in s["tasks"]) / 1000,
        "driver_gap_s": (t1 - t0) - busy,
    }
    for m in SPARK_METRICS:
        out[f"spark.{m}"] = spark[m]
    out["bench.unattributed_s"] = (t1 - t0) - sum(selfs)
    return out


def top_functions(tracer: Tracer, n: int = 15) -> list[tuple[str, int, float]]:
    """(layer.function, calls, self seconds) with the largest self time."""
    selfs = tracer.self_times()
    agg: dict[str, list] = {}
    for i, s in enumerate(tracer.spans):
        a = agg.setdefault(f"{s[0]}.{s[1]}", [0, 0.0])
        a[0] += 1
        a[1] += selfs[i]
    rows = sorted(agg.items(), key=lambda kv: -kv[1][1])[:n]
    return [(k, v[0], v[1]) for k, v in rows]

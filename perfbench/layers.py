"""Per-layer measurement from outside the library.

Every public call is timed in two spans: ``build`` (inside the call,
until it returns a DataFrame) and ``exec`` (the action on what it
returned).  The Spark jobs each span starts are tagged with
``SparkSession.addTag`` while tracing; streaming jobs carry no caller
tag, so they are attributed by the query's run id, which Spark sets as
their job group.  After the run, the session's uncompressed event log
gives each job's tasks (CPU, run time, GC, shuffle, spill and the
Python-worker SQL metrics), and every span gets its jobs' figures.

Layers are the package modules the call comes from (``indicators``,
``llm.dedup``, ...); :func:`layer_metrics` turns spans and the event
log into the ``<layer>.<metric>`` figures, per timed pass.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict

CALL_LAYERS = (
    "io", "indicators", "stats", "operators.fire", "sdba",
    "llm.bloom", "llm.dedup", "llm.pipeline", "llm.text", "llm.lm",
    "llm.quality_clf", "llm.tokenizer", "streaming",
)
CALL_METRICS = (
    ("build_s", "s", "lower"), ("build_jobs", "count", "lower"),
    ("exec_s", "s", "lower"), ("task_cpu_s", "s", "lower"),
    ("task_wait_s", "s", "lower"), ("shuffle_mb", "MB", "lower"),
)
EXTRA_METRICS = (
    ("io.written_mb", "MB", "lower"),
    ("streaming.batches", "count", "lower"),
    ("streaming.batch_ms", "ms", "lower"),
    ("streaming.plan_ms", "ms", "lower"),
    ("streaming.commit_ms", "ms", "lower"),
    ("streaming.state_rows", "count", "lower"),
    ("streaming.state_mb", "MB", "lower"),
    ("spark.plan_s", "s", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("python.boot_s", "s", "lower"),
    ("python.init_s", "s", "lower"),
    ("python.run_s", "s", "lower"),
    ("python.to_worker_mb", "MB", "lower"),
    ("python.from_worker_mb", "MB", "lower"),
)
#: Spark's SQL metric names for the Python boundary -> our metric
PY_ACCUMS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.to_worker_mb",
    "data returned from Python workers": "python.from_worker_mb",
}


def metric_catalog() -> list[dict]:
    """Every per-layer metric, as listed in ``BENCHMARK.json``."""
    out = [{"name": f"{layer}.{m}", "unit": u, "better": b}
           for layer in CALL_LAYERS for m, u, b in CALL_METRICS]
    out += [{"name": n, "unit": u, "better": b}
            for n, u, b in EXTRA_METRICS]
    return out


class Tracer:
    """Span recorder; spans stay in memory until :meth:`dump`."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.streams: list[dict] = []
        self.plan_s: dict[int, float] = defaultdict(float)
        self.written: dict[int, int] = defaultdict(int)
        self.pass_no = -1  # -1: outside a timed pass, not reported
        self._n = 0
        self.parent: str | None = None  # the workload part running

    def _tag(self, kind: str) -> str:
        self._n += 1
        return f"pb{self._n:05d}{kind}"

    def span(self, name: str, layer: str, kind: str, fn, *args):
        """Run ``fn(*args)`` as one span, tagging its jobs."""
        tag = self._tag(kind[0])
        if self.enabled:
            self.spark.addTag(tag)
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            t1 = time.perf_counter()
            if self.enabled:
                self.spark.removeTag(tag)
            self.spans.append({
                "name": name, "layer": layer, "kind": kind, "tag": tag,
                "start": t0, "end": t1, "parent": self.parent,
                "run_id": None, "pass": self.pass_no})

    def plan_phases(self, df) -> None:
        """Plan the returned DataFrame and add its analysis,
        optimisation and planning phase times (trace mode only)."""
        if not self.enabled or not hasattr(df, "_jdf") or df.isStreaming:
            return
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        it = phases.keySet().iterator()
        ms = 0
        while it.hasNext():
            s = phases.get(it.next()).get()
            ms += s.durationMs()
        self.plan_s[self.pass_no] += ms / 1000.0

    def stream(self, name: str, query, t0: float, t1: float) -> None:
        """Record a finished streaming query: its run id (for job
        attribution) and its progress reports."""
        self.spans.append({
            "name": name, "layer": "streaming", "kind": "exec",
            "tag": None, "start": t0, "end": t1, "parent": self.parent,
            "run_id": str(query.runId), "pass": self.pass_no})
        self.streams.append({"pass": self.pass_no,
                             "progress": list(query.recentProgress)})

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


# -- event log ---------------------------------------------------------

def read_event_log(log_dir: str) -> dict:
    """Per-job task figures from the (uncompressed) event log."""
    stage_job: dict[int, int] = {}
    jobs: dict[int, dict] = {}
    stages_done = defaultdict(int)
    files = sorted(glob.glob(os.path.join(log_dir, "*")))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = line[:100]
                if "SparkListenerJobStart" in ev:
                    e = json.loads(line)
                    props = e.get("Properties") or {}
                    j = jobs.setdefault(e["Job ID"], _empty_job())
                    j["tags"] = props.get("spark.job.tags", "")
                    j["group"] = props.get("spark.jobGroup.id", "")
                    for s in e.get("Stage IDs", []):
                        stage_job.setdefault(s, e["Job ID"])
                elif "SparkListenerStageCompleted" in ev:
                    e = json.loads(line)
                    jid = stage_job.get(e["Stage Info"]["Stage ID"])
                    if jid is not None:
                        stages_done[jid] += 1
                elif "SparkListenerTaskEnd" in ev:
                    e = json.loads(line)
                    jid = stage_job.get(e["Stage ID"])
                    if jid is None:
                        continue
                    _add_task(jobs[jid], e)
    for jid, n in stages_done.items():
        jobs[jid]["stages"] = n
    return jobs


def _empty_job() -> dict:
    return {"tags": "", "group": "", "stages": 0, "tasks": 0,
            "cpu_s": 0.0, "run_s": 0.0, "gc_s": 0.0, "shuffle_b": 0,
            "spill_b": 0, "py": defaultdict(float)}


def _add_task(job: dict, e: dict) -> None:
    m = e.get("Task Metrics") or {}
    job["tasks"] += 1
    job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    job["run_s"] += m.get("Executor Run Time", 0) / 1e3
    job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    job["shuffle_b"] += (m.get("Shuffle Write Metrics") or {}) \
        .get("Shuffle Bytes Written", 0)
    job["spill_b"] += m.get("Disk Bytes Spilled", 0)
    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
        key = PY_ACCUMS.get(acc.get("Name"))
        if key and acc.get("Update") is not None:
            job["py"][key] += float(acc["Update"])


def _jobs_of(span: dict, jobs: dict) -> list[dict]:
    if span["run_id"]:
        return [j for j in jobs.values() if j["group"] == span["run_id"]]
    suffix = "-" + span["tag"]
    return [j for j in jobs.values()
            if any(t.endswith(suffix) for t in j["tags"].split(","))]


def layer_metrics(tracer: Tracer, log_dir: str, n_pass: int) -> dict:
    """``<layer>.<metric>`` figures per timed pass (mean over passes)."""
    jobs = read_event_log(log_dir)
    acc: dict[str, float] = defaultdict(float)
    seen_layers = set()
    timed = [s for s in tracer.spans if s["pass"] >= 0]
    timed_jobs: dict[int, dict] = {}
    for s in timed:
        layer = s["layer"]
        seen_layers.add(layer)
        mine = _jobs_of(s, jobs)
        for j in mine:
            timed_jobs[id(j)] = j
        dur = s["end"] - s["start"]
        if s["kind"] == "build":
            acc[f"{layer}.build_s"] += dur
            acc[f"{layer}.build_jobs"] += len(mine)
        else:
            acc[f"{layer}.exec_s"] += dur
        acc[f"{layer}.task_cpu_s"] += sum(j["cpu_s"] for j in mine)
        acc[f"{layer}.task_wait_s"] += sum(j["run_s"] - j["cpu_s"]
                                           for j in mine)
        acc[f"{layer}.shuffle_mb"] += sum(j["shuffle_b"] for j in mine) / 1e6
    out = {}
    for layer in seen_layers:
        for m, unit, _ in CALL_METRICS:
            out[f"{layer}.{m}"] = (acc[f"{layer}.{m}"] / n_pass, unit)
    tj = list(timed_jobs.values())
    out["spark.jobs"] = (len(tj) / n_pass, "count")
    out["spark.stages"] = (sum(j["stages"] for j in tj) / n_pass, "count")
    out["spark.tasks"] = (sum(j["tasks"] for j in tj) / n_pass, "count")
    out["spark.gc_s"] = (sum(j["gc_s"] for j in tj) / n_pass, "s")
    out["spark.spill_mb"] = (sum(j["spill_b"] for j in tj) / 1e6 / n_pass,
                             "MB")
    out["spark.plan_s"] = (sum(v for p, v in tracer.plan_s.items()
                               if p >= 0) / n_pass, "s")
    py = defaultdict(float)
    for j in tj:
        for k, v in j["py"].items():
            py[k] += v
    if py:
        for k in PY_ACCUMS.values():
            unit = "MB" if k.endswith("_mb") else "s"
            scale = 1e6 if unit == "MB" else 1e3  # bytes / ns->ms
            out[k] = (py[k] / scale / n_pass, unit)
    out["io.written_mb"] = (sum(v for p, v in tracer.written.items()
                                if p >= 0) / 1e6 / n_pass, "MB")
    streams = [s for s in tracer.streams if s["pass"] >= 0]
    if streams:
        out.update(_stream_metrics(streams, n_pass))
    return out


def _stream_metrics(streams: list[dict], n_pass: int) -> dict:
    batch, plan, commit, rows, mem, n = [], [], [], [], [], 0
    for s in streams:
        for p in s["progress"]:
            d = p.durationMs or {}
            if not p.numInputRows:
                continue
            n += 1
            batch.append(d.get("triggerExecution", 0))
            plan.append(d.get("queryPlanning", 0))
            commit.append(d.get("walCommit", 0) + d.get("commitOffsets", 0)
                          + d.get("commitBatch", 0))
            ops = p.stateOperators or []
            rows.append(sum(o.numRowsTotal for o in ops))
            mem.append(sum(o.memoryUsedBytes for o in ops))
    if not n:
        return {}
    return {
        "streaming.batches": (n / n_pass, "count"),
        "streaming.batch_ms": (statistics.median(batch), "ms"),
        "streaming.plan_ms": (statistics.median(plan), "ms"),
        "streaming.commit_ms": (statistics.median(commit), "ms"),
        "streaming.state_rows": (max(rows), "count"),
        "streaming.state_mb": (max(mem) / 1e6, "MB"),
    }

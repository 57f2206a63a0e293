"""Spans, layer instrumentation and Spark event-log counters for the
traced benchmark run.

Spans are recorded here, around calls into each layer's public function,
never inside ``graphiti_spark``. In a traced run every wrapped call gets
its own Spark job group (``<span name>#<span id>@<workload id>``), and
its DataFrame output is materialized by an eager local checkpoint before
the span closes, so the layer's Spark work lands inside its span and its
job group. Those barriers change Spark's plan fusion, which is why each
traced run also reports its own overhead.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict

# Layers whose Spark counters are attributed from the event log. A span's
# name is "<layer>.<step>", so the layer is its prefix.
SPARK_LAYERS = ("episodes", "extract", "dedup", "versioning", "pipeline",
                "api", "communities", "serving")
# Phases in the order a per-layer metric prefers them: a layer measured
# in the timed loop is reported from there, else from set-up, else from
# the warm-up.
PHASES = ("measure", "setup", "warmup")
BATCH_PROPERTY = "perfbench.batch"


class Tracer:
    """In-memory span recorder. Disabled, ``span`` costs one branch and
    records nothing, so untraced runs carry no tracing work."""

    def __init__(self, workload_id: str, enabled: bool, spark=None):
        self.workload_id = workload_id
        self.enabled = enabled
        self.sc = spark.sparkContext if (enabled and spark is not None) \
            else None
        self.phase = "setup"
        # traced operations per phase; the Spark counters are per operation
        self.ops: dict[str, int] = {}
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, spark: bool = True, **attrs):
        """Record one span. ``spark=False`` skips the job-group switch
        (several JVM round trips) for layers that run no Spark."""
        if not self.enabled:
            yield {}
            return
        sp = {"id": len(self.spans) + len(self._stack), "name": name,
              "parent": self._stack[-1]["id"] if self._stack else None,
              "workload": self.workload_id, "phase": self.phase,
              "start": time.time(), **attrs}
        self._stack.append(sp)
        t0 = time.perf_counter()
        try:
            with (self._job_group(self.group_of(sp)) if spark
                  else contextlib.nullcontext()):
                yield sp
        finally:
            sp["dur_s"] = time.perf_counter() - t0
            sp["end"] = sp["start"] + sp["dur_s"]
            self._stack.pop()
            self.spans.append(sp)

    def group_of(self, sp: dict) -> str:
        """Spark job group of a span: ``<name>#<id>@<workload id>``."""
        return f"{sp['name']}#{sp['id']}@{self.workload_id}"

    def record(self, name: str, start: float, dur_s: float) -> None:
        """Add a finished top-level span measured by the caller."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name,
                               "parent": None, "workload": self.workload_id,
                               "phase": self.phase, "start": start,
                               "dur_s": dur_s, "end": start + dur_s})

    @contextlib.contextmanager
    def _job_group(self, group: str):
        if self.sc is None:
            yield
            return
        keys = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")
        saved = {k: self.sc.getLocalProperty(k) for k in keys}
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            for k, v in saved.items():
                self.sc.setLocalProperty(k, v)

    @contextlib.contextmanager
    def batch(self, batch_id: str):
        """Tag every job started inside (nested job groups included) with
        one batch id, so jobs and tasks per API call can be counted."""
        if self.sc is None:
            yield
            return
        self.sc.setLocalProperty(BATCH_PROPERTY, batch_id)
        try:
            yield
        finally:
            self.sc.setLocalProperty(BATCH_PROPERTY, None)

    def chosen(self, name: str) -> list[dict]:
        """Spans named ``name`` from the most preferred phase that has any."""
        for phase in PHASES:
            got = [s for s in self.spans
                   if s["name"] == name and s["phase"] == phase]
            if got:
                return got
        return []

    def median_s(self, name: str) -> float:
        got = self.chosen(name)
        return statistics.median(s["dur_s"] for s in got) if got else 0.0

    def last_attr(self, name: str, attr: str, default=0):
        got = self.chosen(name)
        return got[-1].get(attr, default) if got else default

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# -- layer instrumentation ---------------------------------------------------

def _wrap(tracer: Tracer, name: str, fn, *, materialize: bool = True,
          count_input: bool = False, count_invalid: bool = False):
    """Span around ``fn``. With ``materialize`` the DataFrame output(s)
    are computed inside the span by an eager local checkpoint, and the
    checkpointed frames are returned in their place: the next step reads
    them instead of recomputing, and its plan stays small. (Persisting
    instead would leave one extra cache entry per step, and every later
    query plan is matched against all of them.)"""
    def wrapper(*args, **kwargs):
        attrs = {}
        if count_input:
            # the input is the previous wrapped step's checkpoint, so
            # this count is a cheap scan and stays outside the span
            attrs["rows_in"] = args[0].count()
        with tracer.span(name, **attrs) as sp:
            out = fn(*args, **kwargs)
            if not materialize:
                return out
            parts = tuple(p.localCheckpoint(eager=True) for p in
                          (out if isinstance(out, tuple) else (out,)))
            sp["rows"] = parts[0].count()
            if count_invalid:
                sp["invalidated"] = parts[0].where(
                    parts[0]["invalid_at"].isNotNull()).count()
        return parts if isinstance(out, tuple) else parts[0]
    wrapper.__wrapped__ = fn
    return wrapper


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Patch the layer functions the pipeline calls through module
    attributes with span-recording wrappers; restore them on exit."""
    from graphiti_spark import api
    from graphiti_spark.operators import dedup, episodes, extract, versioning
    from graphiti_spark.plans import pipeline

    if not tracer.enabled:
        yield
        return
    build_graph = pipeline.build_graph
    patches = [
        (episodes, "assemble_episodes", "episodes.assemble", {}),
        (episodes, "hydrate_context", "episodes.hydrate_context", {}),
        (extract, "extract_combined", "extract.combined",
         {"count_input": True}),
        (extract, "mentions_from_combined", "extract.mentions", {}),
        (extract, "edges_from_combined", "extract.edges_raw", {}),
        (extract, "raw_entities", "extract.raw_entities", {}),
        (dedup, "canonicalize_entities", "dedup.canonicalize",
         {"count_input": True}),
        (dedup, "resolve_edge_pointers", "dedup.resolve_pointers", {}),
        (versioning, "dedupe_edges", "versioning.dedupe", {}),
        (versioning, "apply_versioning", "versioning.apply",
         {"count_invalid": True}),
        (pipeline, "entity_summaries", "pipeline.summaries", {}),
        (pipeline, "build_graph", "pipeline.build_graph",
         {"materialize": False}),
        # the API facade imports build_graph by name
        (api, "build_graph", "pipeline.build_graph", {"materialize": False}),
    ]
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _, _ in patches]
    try:
        for mod, attr, name, kw in patches:
            fn = build_graph if attr == "build_graph" else getattr(mod, attr)
            setattr(mod, attr, _wrap(tracer, name, fn, **kw))
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def plan_nodes(df) -> int:
    """Node count of a DataFrame's analyzed logical plan."""
    stack, n = [df._jdf.queryExecution().analyzed()], 0
    while stack:
        node = stack.pop()
        n += 1
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return n


# -- Spark event log ---------------------------------------------------------

def read_event_log(log_dir: str) -> list[dict]:
    """One record per job: its job group, batch tag and task counters.
    Read after the SparkContext stops, when the log is complete."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(p)]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {"group": props.get("spark.jobGroup.id"),
                                 "batch": props.get(BATCH_PROPERTY),
                                 "tasks": 0, "failed_tasks": 0,
                                 "shuffle_write_b": 0, "spill_b": 0,
                                 "cpu_ns": 0, "gc_ms": 0}
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    if job is None:
                        continue
                    job["tasks"] += 1
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    if reason != "Success":
                        job["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    job["cpu_ns"] += m.get("Executor CPU Time", 0)
                    job["gc_ms"] += m.get("JVM GC Time", 0)
                    job["spill_b"] += m.get("Disk Bytes Spilled", 0)
                    job["shuffle_write_b"] += (
                        m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0)
    return list(jobs.values())


def spark_layer_metrics(tracer: Tracer, jobs: list[dict]) -> dict:
    """``<layer>.<counter>`` per traced operation: the jobs of a layer's
    spans in the phase its metrics come from, divided by the number of
    operations of that phase."""
    span_by_group = {tracer.group_of(s): s for s in tracer.spans}
    out = {}
    for layer in SPARK_LAYERS:
        by_phase: dict[str, list[dict]] = defaultdict(list)
        for job in jobs:
            sp = span_by_group.get(job["group"] or "")
            if sp is not None and sp["name"].split(".")[0] == layer:
                by_phase[sp["phase"]].append(job)
        phase = next((p for p in PHASES if by_phase[p]), None)
        picked = by_phase[phase] if phase else []
        ops = max(tracer.ops.get(phase, 1), 1) if phase else 1
        out[f"{layer}.tasks"] = sum(j["tasks"] for j in picked) / ops
        out[f"{layer}.failed_tasks"] = sum(
            j["failed_tasks"] for j in picked) / ops
        out[f"{layer}.shuffle_write_mb"] = sum(
            j["shuffle_write_b"] for j in picked) / ops / 2**20
        out[f"{layer}.spill_mb"] = sum(
            j["spill_b"] for j in picked) / ops / 2**20
        out[f"{layer}.executor_cpu_s"] = sum(
            j["cpu_ns"] for j in picked) / ops / 1e9
        out[f"{layer}.gc_s"] = sum(j["gc_ms"] for j in picked) / ops / 1e3
    return out


def batch_metrics(jobs: list[dict], batch_id: str) -> tuple[int, int]:
    """(jobs, tasks) started under one batch tag."""
    mine = [j for j in jobs if j["batch"] == batch_id]
    return len(mine), sum(j["tasks"] for j in mine)

"""Outside-in tracing of the engine's layers.

Nothing in the package is edited: each layer's public callables are
wrapped where they live *and* wherever a module imported them by name,
so the wrappers see every call.  A wrapper records a span (name,
start, end, parent; spans of one query share a trace id) only while
``Tracer.on`` is set, so the same process can time traced and
untraced passes and report the difference as the tracing overhead.

Spans: query -> construct -> {scan, ensure_parallelism, barrier,
action}; query -> execute -> sink.  Counters: py4j commands by type
(``m``, the GC-driven object release, is kept apart because its count
varies with the Python garbage collector), jobs/stages/tasks per job
group from ``statusTracker()``, and task metrics from Spark's JSON
event log (``SparkListenerTaskEnd``), parsed after the session stops.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import sys
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

PKG = "mapreduce_faultolerrant_localityaware_spark"

#: (module, attribute, span name) of every wrapped package callable
PACKAGE_HOOKS = [
    (f"{PKG}.sources.scans", "scan", "scan"),
    (f"{PKG}.sources.scans", "scan_text", "scan"),
    (f"{PKG}.operators._parallel", "ensure_parallelism", "ensure_parallelism"),
    (f"{PKG}.operators._materialize", "materialize_once", "barrier"),
    (f"{PKG}.operators.graph", "_truncate_lineage", "barrier"),
    (f"{PKG}.sources.sinks", "write_tokens", "sink"),
]
BARRIER_METHODS = ["checkpoint", "localCheckpoint"]
ACTION_METHODS = ["collect", "first", "take", "count", "toPandas"]


def _replace_everywhere(orig, new) -> None:
    """Point every module-level name bound to ``orig`` at ``new``."""
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name.startswith(PKG) or name == "__spark_entry__"):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, new)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.on = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.trace_id = ""
        self.py4j: dict[tuple[str, str], Counter] = defaultdict(Counter)
        self.repartitions = Counter()
        self._main = threading.get_ident()
        self._seen_jobs: set[int] = set()
        self.jobs: dict[str, dict] = {}

    # ---------------------------------------------------------- spans
    @contextmanager
    def span(self, name: str, **attrs):
        if not self.on:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"trace": self.trace_id, "id": len(self.spans), "parent": parent["id"] if parent else None,
               "name": name, "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def _inside(self, name: str) -> bool:
        return any(s["name"] == name for s in self._stack)

    def _phase(self) -> str | None:
        for s in reversed(self._stack):
            if s["name"] in ("construct", "execute"):
                return s["name"]
        return None

    # ------------------------------------------------------- wrappers
    def _wrap(self, fn, span_name: str, kind: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            # nested barriers/actions (materialize_once -> checkpoint,
            # first -> take -> collect) count once, at the outermost call
            if not tracer.on or (span_name in ("barrier", "action") and tracer._inside(span_name)):
                return fn(*args, **kwargs)
            with tracer.span(span_name, kind=kind):
                out = fn(*args, **kwargs)
            if span_name == "ensure_parallelism" and out is not args[0]:
                tracer.repartitions[tracer.trace_id] += 1
            return out

        return wrapper

    def install(self) -> None:
        import importlib

        from pyspark.sql.classic.dataframe import DataFrame

        for mod_name, attr, span_name in PACKAGE_HOOKS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            new = self._wrap(orig, span_name, attr)
            setattr(mod, attr, new)
            _replace_everywhere(orig, new)
        for meth, span_name in [(m, "barrier") for m in BARRIER_METHODS] + [(m, "action") for m in ACTION_METHODS]:
            setattr(DataFrame, meth, self._wrap(getattr(DataFrame, meth), span_name, meth))
        client = self.sc._gateway._gateway_client
        send = client.send_command
        tracer = self

        def send_command(command, *args, **kwargs):
            if tracer.on and threading.get_ident() == tracer._main:
                tracer.py4j[(tracer.trace_id, tracer._phase() or "other")][command[:1]] += 1
            return send(command, *args, **kwargs)

        client.send_command = send_command

    # ---------------------------------------------- Spark attribution
    def set_group(self, group: str, description: str) -> None:
        self.sc.setJobGroup(group, description)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def read_group(self, group: str, key: str) -> None:
        """Jobs/stages/tasks of ``group`` not yet attributed, stored
        under ``key`` (one query phase of one pass)."""
        st = self.sc.statusTracker()
        rec = {"jobs": 0, "stages": 0, "stages_skipped": 0, "tasks": 0, "task_failures": 0}
        for jid in st.getJobIdsForGroup(group):
            if jid in self._seen_jobs:
                continue
            self._seen_jobs.add(jid)
            info = st.getJobInfo(jid)
            if info is None:
                continue
            rec["jobs"] += 1
            for sid in list(info.stageIds):
                si = st.getStageInfo(sid)
                if si is None:
                    continue
                if si.numCompletedTasks == 0 and si.numTasks > 0:
                    rec["stages_skipped"] += 1
                else:
                    rec["stages"] += 1
                    rec["tasks"] += si.numCompletedTasks
                    rec["task_failures"] += si.numFailedTasks
        self.jobs[key] = rec


def self_times(spans: list[dict]) -> list[dict]:
    """Each span's duration minus the part its children cover."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return [dict(s, self=(s["end"] - s["start"]) - child[s["id"]]) for s in spans]


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Task metrics per job description (``pass/query:phase``) from a
    finished application's JSON event log."""
    stage_key: dict[int, str] = {}
    tasks: dict[str, list] = defaultdict(list)
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isdir(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    key = (ev.get("Properties") or {}).get("spark.job.description")
                    for sid in ev.get("Stage IDs", []):
                        if key and sid not in stage_key:
                            stage_key[sid] = key
                elif kind == "SparkListenerTaskEnd":
                    key = stage_key.get(ev["Stage ID"])
                    if key:
                        tasks[key].append(ev)
    out = {}
    for key, evs in tasks.items():
        m = Counter()
        per_stage = defaultdict(list)
        for ev in evs:
            tm = ev.get("Task Metrics") or {}
            m["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            m["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            per_stage[ev["Stage ID"]].append(tm.get("Executor Run Time", 0))
        skew = [max(v) / max(statistics.median(v), 1) for v in per_stage.values() if len(v) >= 4]
        m["stage_skew"] = max(skew) if skew else 1.0
        out[key] = dict(m)
    return out

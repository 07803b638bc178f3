"""Tracing for the traced run: spans, module wrappers and the Spark event log.

Spans ``{id, name, start, end, parent, op_id}`` are kept in memory and
written out when the run ends. Module wrappers are installed on the names
the facade and operators look functions up by, from this file only: the
engine's source is never edited. Executor numbers come from the
uncompressed Spark event log, tagged per op by ``setJobGroup``.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PYTHON_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
                "FlatMapGroupsInPandas", "FlatMapGroupsInArrow", "ArrowWindowPython",
                "AggregateInPandas", "FlatMapCoGroupsInPandas", "PythonMapInArrow")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class Tracer:
    """Span recorder plus the counters the module wrappers feed."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self._stack: list[int] = []
        self._op_id: str | None = None
        self._undo: list[tuple] = []
        # wrappers record only while an instrumented op runs; between ops
        # and during bare ops they call straight through
        self.active = False

    # -- spans ----------------------------------------------------------------

    def record(self, name: str, start: float, end: float, parent: int | None,
               op_id: str | None = None) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                           "parent": parent, "op_id": op_id or self._op_id})
        return sid

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = self.record(name, time.time(), 0.0, parent)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    @contextmanager
    def op(self, op_id: str):
        self._op_id, self.active = op_id, True
        try:
            with self.span("op") as sid:
                yield sid
        finally:
            self._op_id, self.active = None, False

    def catalyst_phases(self, jdf, parents: list[int], op_id: str) -> None:
        """Record the Catalyst phases of ``jdf``'s QueryExecution as spans,
        each under whichever of ``parents`` contains it (phase times have
        millisecond resolution, hence the 2 ms slack)."""
        it = jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            pair = it.next()
            summ = pair._2()
            start, end = summ.startTimeMs() / 1e3, summ.endTimeMs() / 1e3
            parent = parents[-1]
            for p in parents:
                s = self.spans[p]
                if s["start"] - 0.002 <= start and end <= s["end"] + 0.002:
                    parent = p
            self.record(f"catalyst.{pair._1()}", start, end, parent, op_id)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")

    # -- module wrappers --------------------------------------------------------

    def wrap(self, module, attr: str, layer: str, after=None) -> None:
        orig = getattr(module, attr)

        def traced(*args, **kwargs):
            if not self.active:
                return orig(*args, **kwargs)
            with self.span(layer) as sid:
                out = orig(*args, **kwargs)
            s = self.spans[sid]
            self.counters[f"{layer}_s"] += s["end"] - s["start"]
            if after is not None:
                after(args, kwargs, out)
            return out

        if not isinstance(orig, type):
            traced = functools.wraps(orig)(traced)
        setattr(module, attr, traced)
        self._undo.append((module, attr, orig))

    def wrap_everywhere(self, package: str, fn, layer: str, after=None) -> None:
        """Wrap every module-level name bound to ``fn`` inside ``package``:
        callers that imported it by name and callers that look it up on its
        home module at call time both go through the wrapper."""
        for name, mod in list(sys.modules.items()):
            if mod is None or not name.startswith(package):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self.wrap(mod, attr, layer, after)

    def install(self) -> None:
        from grape_vector_db_spark import db as dbmod
        from grape_vector_db_spark.operators import ann
        from grape_vector_db_spark.sources import tables

        def route(args, kwargs, choice):
            self.counters[f"plans.planner.route.{choice.strategy}"] += 1

        # the cost rule, and the explicit index= routes the facade builds
        # its PlanChoice for directly
        self.wrap(dbmod, "choose_search_strategy", "plans.planner", route)
        self.wrap(dbmod, "PlanChoice", "plans.planner.explicit", route)

        def published(args, kwargs, out):
            path = kwargs.get("path", args[1] if len(args) > 1 else "")
            path = path.replace("file:", "")
            vs = [int(d[2:]) for d in os.listdir(path) if d.startswith("t=")] if os.path.isdir(path) else []
            if vs:
                self.counters["sources.tables.bytes_written"] += dir_bytes(f"{path}/t={max(vs)}")
            self.counters["sources.tables.publishes"] += 1

        self.wrap_everywhere("grape_vector_db_spark", tables.publish_table,
                             "sources.tables.publish", published)

        def probed(args, kwargs, out):
            self.samples["operators.ann.nprobe"].append(kwargs.get("nprobe", 4))

        self.wrap(ann, "ivf_search_pruned", "operators.ann.ivf_search", probed)
        self.wrap(ann, "ivf_search", "operators.ann.ivf_search", probed)

        def built(args, kwargs, out):
            self.samples["operators.ann.nlist"].append(args[1] if len(args) > 1 else kwargs.get("nlist", 16))

        self.wrap(ann, "ivf_build", "operators.ann.ivf_build", built)

    def uninstall(self) -> None:
        for module, attr, orig in reversed(self._undo):
            setattr(module, attr, orig)
        self._undo.clear()


# -- self time ---------------------------------------------------------------


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"])) for c in kids[s["id"]])
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = max(0.0, (s["end"] - s["start"]) - covered)
    return out


# -- event log ------------------------------------------------------------------


def eventlog_config(log_dir: str) -> list[str]:
    return ["--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false"]


def parse_eventlog(log_dir: str) -> dict[str, dict]:
    """Executor counters per job group, from every event log in ``log_dir``.

    Returns ``{group: {jobs, tasks, cpu_s, gc_s, shuffle_bytes,
    rows_scanned, python_s}}``. ``python_s`` is the wall time of stages
    whose RDD scopes include a Python/Arrow evaluation node."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    files = []
    for root, _, names in os.walk(log_dir):
        for f in names:
            # rolling logs are events_<n>_<app>: read them in order
            parts = f.split("_")
            files.append((int(parts[1]) if f.startswith("events_") else 0, os.path.join(root, f)))
    for _, path in sorted(files):
        with open(path) as fh:
            for line in fh:
                head = line[:60]
                if "SparkListenerJobStart" in head:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        out[group]["jobs"] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif "SparkListenerTaskEnd" in head:
                    ev = json.loads(line)
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    g = out[group]
                    g["tasks"] += 1
                    g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    g["rows_scanned"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                elif "SparkListenerStageCompleted" in head:
                    ev = json.loads(line)
                    info = ev.get("Stage Info", {})
                    group = stage_group.get(info.get("Stage ID"))
                    if group is None:
                        continue
                    scopes = " ".join(r.get("Scope", "") + r.get("Name", "") for r in info.get("RDD Info", []))
                    if any(n in scopes for n in PYTHON_NODES):
                        sub, done = info.get("Submission Time"), info.get("Completion Time")
                        if sub and done:
                            out[group]["python_s"] += (done - sub) / 1e3
    return {k: dict(v) for k, v in out.items()}

"""Spans recorded from outside the package, and the Spark event log.

The traced run wraps the layers' public functions where their callers
look them up, records one span per call (operation id, layer name,
parent, start, end) in flat arrays, and turns the spans into per-layer
self times when the run ends. A layer's self time is its span minus the
time its child spans cover; calls on one thread nest, so the children of
a span never overlap and "covered" is the sum of their durations.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from array import array
from contextlib import contextmanager

PKG = "purescript_ifrit_spark"
# per-operation work counts read from the event log
COUNTS = (
    "build.jobs", "exec.jobs", "exec.stages", "exec.tasks", "exec.driver_gap_s",
    "exec.shuffle_write_bytes", "exec.input_rows", "exec.spill_bytes",
    "exec.executor_cpu_s", "exec.task_failures",
)
# the counts two runs with the same seed must repeat exactly
DETERMINISTIC_COUNTS = ("build.jobs", "exec.jobs", "exec.stages", "exec.tasks")


class Tracer:
    def __init__(self):
        self.op = array("l")
        self.layer = array("b")
        self.parent = array("l")
        self.start = array("d")
        self.end = array("d")
        self.layers: list = []
        self._layer_ids: dict = {}
        self._stack: list = []
        self.current_op = -1
        self.sql: list = []  # (op id, dialect source) of every tokenize call

    def _open(self, name: str) -> int:
        lid = self._layer_ids.get(name)
        if lid is None:
            lid = self._layer_ids[name] = len(self.layers)
            self.layers.append(name)
        i = len(self.start)
        self.op.append(self.current_op)
        self.layer.append(lid)
        self.parent.append(self._stack[-1] if self._stack else -1)
        self.end.append(0.0)
        self._stack.append(i)
        self.start.append(time.perf_counter())
        return i

    def _close(self, i: int) -> None:
        self.end[i] = time.perf_counter()
        self._stack.pop()

    @contextmanager
    def span(self, name: str):
        i = self._open(name)
        try:
            yield
        finally:
            self._close(i)

    def wrap(self, fn, name: str, record_arg: bool = False):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if record_arg:
                self.sql.append((self.current_op, args[0]))
            i = self._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(i)

        return traced

    def self_times(self) -> dict:
        """{op id: {layer: self seconds}} over every recorded span."""
        own = [e - s for s, e in zip(self.start, self.end)]
        selft = list(own)
        for i, p in enumerate(self.parent):
            if p >= 0:
                selft[p] -= own[i]
        out: dict = {}
        for i, t in enumerate(selft):
            per = out.setdefault(self.op[i], {})
            name = self.layers[self.layer[i]]
            per[name] = per.get(name, 0.0) + t
        return out

    def span_totals(self, name: str) -> dict:
        """{op id: summed duration of the outermost `name` spans}."""
        lid = self._layer_ids.get(name)
        out: dict = {}
        for i in range(len(self.start)):
            p = self.parent[i]
            if self.layer[i] == lid and (p < 0 or self.layer[p] != lid):
                out[self.op[i]] = out.get(self.op[i], 0.0) + self.end[i] - self.start[i]
        return out

    def rows(self) -> list:
        """Every span as [op id, layer, parent index, start, end]."""
        names = self.layers
        return [
            [self.op[i], names[self.layer[i]], self.parent[i], self.start[i], self.end[i]]
            for i in range(len(self.start))
        ]


def span_violations(rows: list) -> list:
    """Operations whose named layers do not account for their wall time.

    The self times of a span tree always sum to its root's duration, so
    the root `op` span's own self time (time inside the operation that no
    layer span covers) is left out: the named layers must sum to the
    traced wall time within a tenth."""
    bad = []
    for r in rows:
        if r.get("error"):
            continue
        total = sum(t for layer, t in r["layers"].items() if layer != "op")
        if abs(total - r["wall_s"]) > 0.1 * r["wall_s"]:
            bad.append({"op": r["op"], "name": r["name"], "layers_s": total,
                        "wall_s": r["wall_s"]})
    return bad


def install(tracer: Tracer) -> None:
    """Wrap each layer's public function in every package namespace that
    binds it. Functions called through their module (`lexer.tokenize`)
    are replaced in that module; functions imported by name
    (`schema_from_struct`, `load_table`) are replaced in the importing
    modules only, so their own recursion stays unwrapped."""
    from purescript_ifrit_spark import analyzer, lexer, parser, planner, schema
    from purescript_ifrit_spark.sources import tables

    by_module = [
        (lexer, "tokenize", "lexer"),
        (parser, "parse", "parser"),
        (analyzer, "analyze", "analyzer"),
        (planner, "build", "planner"),
    ]
    by_name = [
        (schema, "schema_from_json", "schema"),
        (schema, "schema_from_struct", "schema"),
        (tables, "load_table", "sources"),
    ]
    for mod, attr, layer in by_module:
        setattr(mod, attr, tracer.wrap(getattr(mod, attr), layer, mod is lexer))
    for home, attr, layer in by_name:
        orig = getattr(home, attr)
        wrapped = tracer.wrap(orig, layer)
        for name, mod in list(sys.modules.items()):
            if name.startswith(PKG) and mod is not home and getattr(mod, attr, None) is orig:
                setattr(mod, attr, wrapped)


def read_event_log(path: str) -> dict:
    """{op id: work counts} from an uncompressed Spark event log, for the
    jobs that carried the `perfbench.op` local property."""
    jobs, stage_job, stages, tasks = {}, {}, {}, {}
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                if "perfbench.op" not in props:
                    continue
                jid = e["Job ID"]
                jobs[jid] = {
                    "op": int(props["perfbench.op"]),
                    "phase": props.get("perfbench.phase"),
                    "start": e["Submission Time"],
                    "end": None,
                }
                for s in e["Stage IDs"]:
                    stage_job.setdefault(s, jid)
            elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                stages[(info["Stage ID"], info["Stage Attempt ID"])] = info["Stage ID"]
            elif ev == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                m = e.get("Task Metrics") or {}
                t = tasks.setdefault(sid, [0, 0, 0, 0, 0, 0])
                t[0] += 1
                t[1] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                t[2] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                t[3] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                t[4] += m.get("Executor CPU Time", 0)
                t[5] += (e.get("Task End Reason") or {}).get("Reason") != "Success"
    out: dict = {}

    def counts(op):
        return out.setdefault(op, {**dict.fromkeys(COUNTS, 0), "_jobs": []})

    for jid, j in jobs.items():
        c = counts(j["op"])
        c["exec.jobs"] += 1
        c["build.jobs"] += j["phase"] == "build"
        c["_jobs"].append((j["start"], j["end"] if j["end"] is not None else j["start"]))
    for sid in stages.values():
        jid = stage_job.get(sid)
        if jid is None or jid not in jobs:
            continue
        c = counts(jobs[jid]["op"])
        c["exec.stages"] += 1
    for sid, t in tasks.items():
        jid = stage_job.get(sid)
        if jid is None or jid not in jobs:
            continue
        c = counts(jobs[jid]["op"])
        c["exec.tasks"] += t[0]
        c["exec.shuffle_write_bytes"] += t[1]
        c["exec.input_rows"] += t[2]
        c["exec.spill_bytes"] += t[3]
        c["exec.executor_cpu_s"] += t[4] / 1e9
        c["exec.task_failures"] += t[5]
    for c in out.values():
        c["exec.driver_gap_s"] = driver_gap_ms(c.pop("_jobs")) / 1000.0
    return out


def driver_gap_ms(intervals) -> float:
    """Time between the first job's start and the last job's end during
    which no job of the operation was running."""
    if not intervals:
        return 0.0
    intervals = sorted(intervals)
    gap, reach = 0.0, intervals[0][1]
    for s, e in intervals[1:]:
        if s > reach:
            gap += s - reach
        reach = max(reach, e)
    return gap

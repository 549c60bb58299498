"""Traced-run tooling: spans kept in memory, Spark jobs tagged per span,
and an event-log roll-up of each span's jobs.

Tracing works from outside the package. `Tracer.span` wraps a call into
one layer: it records name, start, end and parent, and sets a fresh
Spark job group for the call, so every job the call starts can be found
again in the event log. `Tracer.wrap_layers` additionally wraps the
package's own layer boundaries that the benchmark does not call
directly (each `IndexBuilder._build_*` stage, found by introspection,
and `TableStore.write` / `publish`). A span's counters cover its own
jobs and those of the spans nested in it; `self_s` is its wall time
minus the part its child spans cover, and `driver_s` is wall time during
which none of those jobs was running.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import time

# per-span counters, in report order
COUNTERS = ("jobs", "stages", "tasks", "tasks_failed", "wall_s", "self_s",
            "driver_s", "exec_run_s", "exec_cpu_s", "gc_s", "sched_wait_s",
            "input_bytes", "input_rows", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "py_bytes_out",
            "py_bytes_in", "output_bytes")

# the per-phase subset a run reports as its per-layer metrics: the
# counters an optimisation is likely to move and that are never 0 on
# either workload. Failed tasks and spill stay 0 at these input sizes and
# GC time near 0; no `curate` call runs a Python-worker operator, so the
# py_bytes counters are 0 there; the set-up and read phases write no
# files. All of them stay in the per-module table.
PHASE_COUNTERS = tuple(c for c in COUNTERS
                       if c not in ("tasks_failed", "gc_s", "spill_bytes",
                                    "py_bytes_out", "py_bytes_in"))
NO_OUTPUT_PHASES = ("session", "read")

# the role each top-level call plays in a workload (see README.md)
PHASES = ("session", "write", "read", "update", "maintain")

_UNITS = {"jobs": "count", "stages": "count", "tasks": "count",
          "tasks_failed": "count", "input_rows": "rows"}

_PY_OUT = "data sent to Python workers"
_PY_IN = "data returned from Python workers"


def unit_of(counter: str) -> str:
    if counter.endswith("_s"):
        return "s"
    return _UNITS.get(counter, "B")


class Span:
    __slots__ = ("sid", "name", "phase", "parent", "start", "end", "group",
                 "extra")

    def __init__(self, sid, name, phase, parent, group):
        self.sid, self.name, self.phase = sid, name, phase
        self.parent, self.group = parent, group
        self.start = time.time()
        self.end = None
        self.extra: dict = {}


class Tracer:
    """Spans of one run. With `enabled=False` every method is a no-op, so
    the untraced run calls the same code without tracing it."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []
        self._ids = itertools.count(1)
        self._sc = None
        self._undo: list = []

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext if self.enabled else None

    @contextlib.contextmanager
    def span(self, name: str, phase: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        phase = phase or (parent.phase if parent else "session")
        sid = next(self._ids)
        sp = Span(sid, name, phase, parent.sid if parent else None,
                  f"pb-{self.run_id}-{sid}")
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sp) -> None:
        if self._sc is None:
            return
        if sp is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(sp.group, sp.name)

    # -- wrapping the package's inner layer boundaries ------------------
    def wrap_layers(self) -> None:
        """Wrap every `IndexBuilder._build_*` stage and the io layer.
        Undone by `unwrap_layers`."""
        if not self.enabled:
            return
        from information_retrieval_spark.build import IndexBuilder
        from information_retrieval_spark.io import TableStore

        for attr in sorted(vars(IndexBuilder)):
            if attr.startswith("_build_") and callable(getattr(IndexBuilder, attr)):
                self._patch(IndexBuilder, attr, f"build.{attr[len('_build_'):]}")
        self._patch(TableStore, "write", "io.write",
                    after=lambda sp, store, df, name, *a, **k:
                    _dir_stats(sp, store.path(name)))
        self._patch(TableStore, "publish", "io.publish",
                    after=lambda sp, store, name, staged:
                    _dir_stats(sp, store.path(name)))

    def _patch(self, owner, attr, name, after=None) -> None:
        orig = vars(owner)[attr]
        tracer = self

        @functools.wraps(orig)
        def wrapped(this, *a, **k):
            with tracer.span(name) as sp:
                out = orig(this, *a, **k)
                if after is not None:
                    after(sp, this, *a, **k)
                return out

        setattr(owner, attr, wrapped)
        self._undo.append((owner, attr, orig))

    def unwrap_layers(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- output ------------------------------------------------------------
    def write_spans(self, path: str) -> None:
        if not self.enabled:
            return
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "run_id": self.run_id, "id": sp.sid, "name": sp.name,
                    "phase": sp.phase, "parent": sp.parent,
                    "start": sp.start, "end": sp.end, "group": sp.group,
                    **sp.extra}) + "\n")


def _dir_stats(sp, path: str) -> None:
    files = [p for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
             if os.path.isfile(p)]
    sp.extra["bytes"] = sp.extra.get("bytes", 0) + sum(
        os.path.getsize(p) for p in files)
    sp.extra["files"] = sp.extra.get("files", 0) + len(files)


# -- event-log roll-up -----------------------------------------------------

def read_event_log(log_dir: str) -> dict:
    """Per job group: job intervals and summed task/stage counters, from
    the (uncompressed, non-rolling) Spark event log under `log_dir`."""
    stage_group: dict = {}
    groups: dict = {}

    def g(name):
        return groups.setdefault(name, {
            "jobs": [], "stages": 0, "tasks": 0, "tasks_failed": 0,
            "exec_run_s": 0.0, "exec_cpu_s": 0.0, "gc_s": 0.0,
            "sched_wait_s": 0.0, "input_bytes": 0, "input_rows": 0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "py_bytes_out": 0, "py_bytes_in": 0,
            "output_bytes": 0})

    job_group: dict = {}
    job_start: dict = {}
    stage_submit: dict = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    job_group[ev["Job ID"]] = grp
                    job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                    for s in ev.get("Stage IDs", []):
                        stage_group.setdefault(s, grp)
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    g(job_group.get(jid))["jobs"].append(
                        (job_start.get(jid, 0.0), ev["Completion Time"] / 1000.0))
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    stage_group[info["Stage ID"]] = grp
                    stage_submit[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = \
                        info.get("Submission Time", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    acc = g(stage_group.get(info["Stage ID"]))
                    acc["stages"] += 1
                    for a in info.get("Accumulables", []):
                        if a.get("Name") == _PY_OUT:
                            acc["py_bytes_out"] += int(a.get("Value") or 0)
                        elif a.get("Name") == _PY_IN:
                            acc["py_bytes_in"] += int(a.get("Value") or 0)
                elif kind == "SparkListenerTaskEnd":
                    acc = g(stage_group.get(ev["Stage ID"]))
                    info = ev.get("Task Info", {})
                    acc["tasks"] += 1
                    if info.get("Failed") or info.get("Killed"):
                        acc["tasks_failed"] += 1
                    sub = stage_submit.get((ev["Stage ID"], ev.get("Stage Attempt ID", 0)))
                    if sub and info.get("Launch Time"):
                        acc["sched_wait_s"] += max(0, info["Launch Time"] - sub) / 1000.0
                    m = ev.get("Task Metrics") or {}
                    acc["exec_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    acc["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    inp = m.get("Input Metrics") or {}
                    acc["input_bytes"] += inp.get("Bytes Read", 0)
                    acc["input_rows"] += inp.get("Records Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    acc["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                  + sr.get("Local Bytes Read", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                           + m.get("Disk Bytes Spilled", 0))
                    out = m.get("Output Metrics") or {}
                    acc["output_bytes"] += out.get("Bytes Written", 0)
    return groups


def _union_len(intervals: list, lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def roll_up(spans: list, groups: dict) -> tuple:
    """(by_name, by_phase): counters summed per span name and per phase.

    Per span, event-log counters cover the jobs of the span and of every
    span nested in it; `wall_s` is its duration, `self_s` the duration
    minus the union of its children's intervals, and `driver_s` the
    duration during which none of those jobs was running. A phase sums
    its top-level spans."""
    children: dict = {}
    for sp in spans:
        children.setdefault(sp.parent, []).append(sp)

    def subtree(sp):
        out, todo = [], [sp]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(children.get(x.sid, []))
        return out

    by_name: dict = {}
    by_phase: dict = {p: dict.fromkeys(COUNTERS + ("calls",), 0) for p in PHASES}
    for sp in spans:
        end = sp.end or sp.start
        kids = [(c.start, c.end or c.start) for c in children.get(sp.sid, [])]
        wall = end - sp.start
        row = {c: 0 for c in COUNTERS}
        jobs = []
        for x in subtree(sp):
            ev = groups.get(x.group, {})
            jobs += ev.get("jobs", [])
            for k, v in ev.items():
                if k != "jobs":
                    row[k] += v
            for k, v in x.extra.items():
                row[k] = row.get(k, 0) + v
        row.update(jobs=len(jobs), wall_s=wall,
                   self_s=wall - _union_len(kids, sp.start, end),
                   driver_s=max(0.0, wall - _union_len(jobs, sp.start, end)))
        agg = by_name.setdefault(sp.name, {"count": 0})
        agg["count"] += 1
        for k, v in row.items():
            agg[k] = agg.get(k, 0) + v
        if sp.parent is None:
            ph = by_phase[sp.phase]
            ph["calls"] += 1
            for k in COUNTERS:
                ph[k] += row[k]
    return by_name, by_phase


def phase_metrics(by_phase: dict) -> dict:
    """The result line's per-layer metrics. Every phase but `read` makes
    a fixed set of calls, so it reports `<phase>.<counter>` summed over
    them. The number of reads is what fits in the timed window, so a
    faster read path would make more of them: the read phase reports the
    mean per read call instead, as `read_per_call.<counter>`."""
    out = {}
    for ph in PHASES:
        row = by_phase[ph]
        name, per = ("read_per_call", row["calls"]) if ph == "read" else (ph, 1)
        for c in PHASE_COUNTERS:
            if c == "output_bytes" and ph in NO_OUTPUT_PHASES:
                continue
            out[f"{name}.{c}"] = {"value": row[c] / per, "unit": unit_of(c)}
    return out

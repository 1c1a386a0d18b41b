"""Layer tracing for the benchmark's ``--trace 1`` runs.

Three sources, all kept outside the package:

- ``Tracer``: in-memory spans (name, start, end, parent) recorded by
  wrappers the benchmark installs around public package functions.
- ``MemoSpy``: hit counters swapped in for the package's module-level
  ``*_CACHE``/``*_MEMO`` dicts.
- ``spark_layers``: Spark's own counters, parsed from the uncompressed event
  log the session writes when the benchmark enables it through
  ``PYSPARK_SUBMIT_ARGS``, and split by the benchmark's job groups.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import sys
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self.paused = False
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> int:
        t0 = time.perf_counter()
        stack = self._stack()
        # a pool thread (Project.run's model workers) has no stack of its
        # own: its spans belong to whatever the main thread has open
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            idx = len(self.spans)
            self.spans.append({"name": name, "start": 0.0, "end": None, "parent": parent})
        stack.append(idx)
        t1 = time.perf_counter()
        self.spans[idx]["start"] = t1
        with self._lock:
            self.overhead_s += t1 - t0
        return idx

    def end(self, idx: int) -> None:
        t0 = time.perf_counter()
        self.spans[idx]["end"] = t0
        stack = self._stack()
        if stack and stack[-1] == idx:
            stack.pop()
        with self._lock:
            self.overhead_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.begin(name)
        try:
            yield
        finally:
            self.end(idx)

    def wrap(self, fn, name: str, after=None):
        """``fn`` inside a span; ``after(args, kwargs)`` runs once it returns,
        outside the span."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self.paused:
                return fn(*args, **kwargs)
            idx = self.begin(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                self.end(idx)
            if after is not None:
                after(args, kwargs)
            return out

        return traced

    def patch_function(self, module, attr: str, name: str, after=None) -> None:
        """Wrap ``module.attr`` and every package module's reference to the
        same function object (``from .x import f`` binds a second name)."""
        fn = getattr(module, attr)
        traced = self.wrap(fn, name, after)
        for modname, mod in list(sys.modules.items()):
            if modname.startswith("dbt_parquet_spark") and mod is not None:
                for key, val in list(vars(mod).items()):
                    if val is fn:
                        setattr(mod, key, traced)

    def patch_method(self, cls, attr: str, name: str) -> None:
        setattr(cls, attr, self.wrap(getattr(cls, attr), name))

    # -- reductions ---------------------------------------------------------
    def _outermost(self, match) -> list[dict]:
        """Closed spans whose name ``match``es and that no matching span
        encloses, so a call made from inside a matching call counts once."""
        out = []
        for s in self.spans:
            if s["end"] is None or not match(s["name"]):
                continue
            p = s["parent"]
            while p is not None and not match(self.spans[p]["name"]):
                p = self.spans[p]["parent"]
            if p is None:
                out.append(s)
        return out

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self._outermost(lambda n: n == name))

    def layer_total(self, layer: str) -> float:
        """Wall time inside one layer's spans."""
        return sum(s["end"] - s["start"] for s in self._outermost(lambda n: n.startswith(layer + ".")))

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name and s["end"] is not None)

    def _self_times(self) -> list[tuple[str, float]]:
        """(name, self time) per closed span: its duration minus the union
        of its children's intervals."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = []
        for i, s in enumerate(self.spans):
            if s["end"] is not None:
                covered = _union_length(children.get(i, []), s["start"], s["end"])
                out.append((s["name"], max(0.0, s["end"] - s["start"] - covered)))
        return out

    def self_times(self) -> dict[str, float]:
        """Self time summed by layer, the prefix of a span's name."""
        out: dict[str, float] = defaultdict(float)
        for name, t in self._self_times():
            out[name.split(".")[0]] += t
        return dict(out)

    def self_time_of(self, name: str) -> float:
        return sum(t for n, t in self._self_times() if n == name)


def _union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total = 0.0
    cur_start = cur_end = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


class MemoSpy(dict):
    """A dict that counts lookups that found an entry."""

    def __init__(self, *a):
        super().__init__(*a)
        self.hits = 0

    def get(self, key, default=None):
        if super().__contains__(key):
            self.hits += 1
        return super().get(key, default)

    def __getitem__(self, key):
        val = super().__getitem__(key)
        self.hits += 1
        return val

    def __contains__(self, key):
        present = super().__contains__(key)
        if present:
            self.hits += 1
        return present


def install_memo_spies() -> list[MemoSpy]:
    """Swap every loaded package module's ``*_CACHE``/``*_MEMO`` dict for a
    MemoSpy holding the same entries."""
    spies = []
    for modname, mod in list(sys.modules.items()):
        if not modname.startswith("dbt_parquet_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if type(val) is dict and (attr.endswith("_CACHE") or attr.endswith("_MEMO")):
                spy = MemoSpy(val)
                setattr(mod, attr, spy)
                spies.append(spy)
    return spies


# -- Spark event log ---------------------------------------------------------

SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_cpu_s",
    "executor_run_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "python_run_s",
    "python_bytes_sent",
    "driver_gap_s",
)


def eventlog_conf(log_dir: str) -> list[str]:
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", "spark.eventLog.compress=false",
        "--conf", f"spark.eventLog.dir={log_dir}",
    ]


def _event_files(log_dir: str) -> list[str]:
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))
    files += sorted(
        f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)
    )
    return files


def _acc_value(accums: list[dict], needle: str) -> float:
    total = 0.0
    for a in accums or []:
        if needle in str(a.get("Name", "")).lower():
            try:
                total += float(a.get("Update", 0) or 0)
            except (TypeError, ValueError):
                pass
    return total


def spark_layers(log_dir: str, phases: list[tuple[str, float, float]]) -> tuple[dict, dict]:
    """Parse the event log and attribute every job to a benchmark phase.

    ``phases`` are (group, start_epoch_s, end_epoch_s). A job is attributed
    by its ``spark.jobGroup.id`` property when the benchmark's group is set
    on the submitting thread, and otherwise by the phase whose window holds
    its submission time (pool threads do not inherit the job group).
    Returns (totals over all phases, per-group counters)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    groups = {g for g, _, _ in phases}
    per: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    job_group: dict[int, str] = {}
    seen_stages: set[tuple[int, int]] = set()
    task_events: list[dict] = []
    for path in _event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"start": ev.get("Submission Time", 0) / 1000.0, "end": None}
                    props = ev.get("Properties") or {}
                    job_group[jid] = props.get("spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev.get("Completion Time", 0) / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev.get("Stage Info", {})
                    seen_stages.add((info.get("Stage ID"), info.get("Stage Attempt ID", 0)))
                elif kind == "SparkListenerTaskEnd":
                    task_events.append(ev)

    def group_of(jid: int | None) -> str | None:
        if jid is None or jid not in jobs:
            return None
        g = job_group.get(jid, "")
        if g in groups:
            return g
        t = jobs[jid]["start"]
        for name, lo, hi in phases:
            if lo <= t <= hi:
                return name
        return None

    for jid in jobs:
        g = group_of(jid)
        if g is not None:
            per[g]["jobs"] += 1
    for sid, _attempt in seen_stages:
        g = group_of(stage_job.get(sid))
        if g is not None:
            per[g]["stages"] += 1
    for ev in task_events:
        g = group_of(stage_job.get(ev.get("Stage ID")))
        if g is None:
            continue
        m = ev.get("Task Metrics") or {}
        acc = (ev.get("Task Info") or {}).get("Accumulables") or []
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        p = per[g]
        p["tasks"] += 1
        p["executor_cpu_s"] += (m.get("Executor CPU Time", 0) or 0) / 1e9
        p["executor_run_s"] += (m.get("Executor Run Time", 0) or 0) / 1e3
        p["gc_s"] += (m.get("JVM GC Time", 0) or 0) / 1e3
        p["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0) or 0) + (sr.get("Local Bytes Read", 0) or 0)
        p["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0) or 0
        p["spill_bytes"] += (m.get("Memory Bytes Spilled", 0) or 0) + (m.get("Disk Bytes Spilled", 0) or 0)
        p["python_run_s"] += _acc_value(acc, "time to run python workers") / 1e3
        p["python_bytes_sent"] += _acc_value(acc, "data sent to python workers")

    # wall time of each phase that no running job covers: the driver-side
    # planning, Python and scheduling floor between jobs
    for name, lo, hi in phases:
        spans = [
            (j["start"], j["end"] if j["end"] is not None else hi)
            for jid, j in jobs.items()
            if group_of(jid) == name
        ]
        per[name]["driver_gap_s"] += max(0.0, (hi - lo) - _union_length(spans, lo, hi))

    totals = {k: 0.0 for k in SPARK_COUNTERS}
    for g in per.values():
        for k in SPARK_COUNTERS:
            totals[k] += g.get(k, 0.0)
    return totals, {g: {k: v.get(k, 0.0) for k in SPARK_COUNTERS} for g, v in per.items()}

"""Spans recorded around the benchmark's calls into the library, and their
roll-up against Spark's own event log.

A span has a name, start, end, parent and the id of the iteration it belongs
to. Spans are kept in memory and written out once, at exit. While a span is
open its id is set as the Spark local property ``kgbench.span``, so every job
the span starts carries the id into the event log. Jobs started outside any
tagged span (the session's own warm-up job runs before a context exists to
tag) are given to the innermost span whose interval holds their submission.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

SPAN_PROPERTY = "kgbench.span"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.iteration: int | None = None
        self._stack: list[int] = []
        self.sc = None  # set once the session exists

    def _tag(self, value):
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY, value)

    @contextmanager
    def span(self, name: str):
        """Open a span; counts the caller puts in the yielded record's
        ``counts`` are kept with it."""
        if not self.enabled:
            yield {"counts": {}}
            return
        rec = {
            "id": len(self.spans), "name": name, "iter": self.iteration,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None, "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._tag(str(rec["id"]))
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._tag(str(self._stack[-1]) if self._stack else None)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# --------------------------------------------------------------------------
# interval arithmetic (seconds since the epoch)


def _union(ivs):
    out = []
    for a, b in sorted(ivs):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def _covered(ivs, lo, hi):
    """Length of ``[lo, hi]`` covered by the union of ``ivs``."""
    return sum(max(0.0, min(b, hi) - max(a, lo)) for a, b in _union(ivs))


def self_segments(span, children):
    """The parts of ``span`` not covered by any of its children."""
    segs = [[span["start"], span["end"]]]
    for c in sorted(children, key=lambda c: c["start"]):
        nxt = []
        for a, b in segs:
            if c["end"] <= a or c["start"] >= b:
                nxt.append([a, b])
                continue
            if c["start"] > a:
                nxt.append([a, c["start"]])
            if c["end"] < b:
                nxt.append([c["end"], b])
        segs = nxt
    return segs


# --------------------------------------------------------------------------
# event log


def _python_stage(stage_info: dict) -> bool:
    """Whether a stage runs a Python worker (Arrow UDF or mapInPandas)."""
    for rdd in stage_info.get("RDD Info", []):
        text = f"{rdd.get('Name', '')} {rdd.get('Scope', '')} {rdd.get('Callsite', '')}"
        if any(k in text for k in ("Python", "ArrowEval", "MapInPandas", "mapInPandas")):
            return True
    return False


def read_event_log(path: str) -> dict:
    """Jobs of one application: ``{job_id: {tag, start, end, tasks: [...]}}``
    with per-task metrics in seconds and bytes."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    python_stages: set[int] = set()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "tag": props.get(SPAN_PROPERTY),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "tasks": [],
                }
                for st in ev.get("Stage Infos", []):
                    stage_job.setdefault(st["Stage ID"], jid)
                    if _python_stage(st):
                        python_stages.add(st["Stage ID"])
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if jid is None or not tm:
                    continue
                sw = tm.get("Shuffle Write Metrics") or {}
                run_s = tm.get("Executor Run Time", 0) / 1000.0
                cpu_s = tm.get("Executor CPU Time", 0) / 1e9
                jobs[jid]["tasks"].append({
                    "run_s": run_s,
                    "cpu_s": cpu_s,
                    "python": ev["Stage ID"] in python_stages,
                    "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                    "spill_bytes": tm.get("Disk Bytes Spilled", 0),
                    "peak_mem_bytes": tm.get("Peak Execution Memory", 0),
                })
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["start"]
    return jobs


def find_event_log(directory: str) -> str | None:
    logs = [os.path.join(directory, n) for n in os.listdir(directory)]
    logs = [p for p in logs if os.path.isfile(p) and not p.endswith(".inprogress")]
    return max(logs, key=os.path.getmtime) if logs else None


def rollup(spans: list[dict], jobs: dict) -> dict[int, dict]:
    """Per span: ``self_s``, ``driver_s`` (self time with no Spark job
    running), and ``cpu_s``, ``python_s`` (run time minus JVM CPU time of
    Python-stage tasks), ``shuffle_bytes``, ``spill_bytes``,
    ``peak_mem_bytes`` and ``jobs`` over the jobs the span started."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list] = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    owner: dict[int, int] = {}
    for jid, j in jobs.items():
        if j["tag"] is not None and int(j["tag"]) in by_id:
            owner[jid] = int(j["tag"])
            continue
        inner = [s for s in spans if s["start"] <= j["start"] <= s["end"]]
        if inner:
            owner[jid] = max(inner, key=lambda s: s["start"])["id"]
    job_ivs = [(j["start"], j["end"]) for j in jobs.values()]
    out = {}
    for s in spans:
        segs = self_segments(s, children[s["id"]])
        self_s = sum(b - a for a, b in segs)
        busy = sum(_covered(job_ivs, a, b) for a, b in segs)
        tasks = [t for jid, j in jobs.items() if owner.get(jid) == s["id"] for t in j["tasks"]]
        out[s["id"]] = {
            "self_s": self_s,
            "driver_s": max(0.0, self_s - busy),
            "cpu_s": sum(t["cpu_s"] for t in tasks),
            "python_s": sum(max(0.0, t["run_s"] - t["cpu_s"]) for t in tasks if t["python"]),
            "shuffle_bytes": sum(t["shuffle_bytes"] for t in tasks),
            "spill_bytes": sum(t["spill_bytes"] for t in tasks),
            "peak_mem_bytes": max((t["peak_mem_bytes"] for t in tasks), default=0),
            "jobs": sum(1 for o in owner.values() if o == s["id"]),
        }
    return out


# --------------------------------------------------------------------------
# memory


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def peak_rss_mb(root: int | None = None) -> float:
    """Sum of the peak resident set (``VmHWM``) over the live process tree
    under ``root``: the driver, its JVM and the Python workers."""
    total_kb = 0
    for pid in process_tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0

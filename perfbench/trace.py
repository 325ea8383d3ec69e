"""Measurement plumbing: spans around layer calls, Spark job attribution
from the event log, process-tree peak RSS, and a host-noise CPU probe.

Layers are measured from outside the program. ``LayerPatch`` swaps a
module's public function for a wrapper that opens a span, sets the Spark job
group to the layer name, calls the original, and materialises the result
once (persist + count) so the layer's work runs inside its own span. The
job code itself is not touched: ``jobs.run_extraction_job`` and
``jobs.run_dedup_job`` look these functions up on their modules at call
time, so they run through the wrappers in their own order.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import threading
import time


def clear_job_group(sc) -> None:
    """Undo ``setJobGroup`` for the calling thread (PySpark has no
    ``clearJobGroup``)."""
    for key in ("spark.jobGroup.id", "spark.job.description"):
        sc.setLocalProperty(key, None)


class Tracer:
    """In-memory spans (name, layer, start, end, parent, run id); written
    out by the caller when the run ends."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list = []
        self._stack: list = []

    def _set_group(self, group: str) -> None:
        if self.sc is not None:
            self.sc.setJobGroup(group, f"perfbench {self.run_id} {group}")

    def depth(self) -> int:
        return len(self._stack)

    def span(self, name: str, layer: str | None = None):
        return _Span(self, name, layer or name)


class _Span:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.t, self.name, self.layer = tracer, name, layer

    def __enter__(self):
        t = self.t
        self.rec = {
            "id": len(t.spans), "name": self.name, "layer": self.layer,
            "parent": t._stack[-1]["id"] if t._stack else None,
            "run_id": t.run_id, "start": time.perf_counter(), "end": None,
        }
        t.spans.append(self.rec)
        t._stack.append(self.rec)
        t._set_group(self.layer)
        return self.rec

    def __exit__(self, *exc):
        t = self.t
        self.rec["end"] = time.perf_counter()
        t._stack.pop()
        if t._stack:
            t._set_group(t._stack[-1]["layer"])
        elif t.sc is not None:
            clear_job_group(t.sc)
        return False


def self_times(spans: list) -> dict:
    """span id → duration minus the part of it its children cover
    (children of one span never overlap: the job runs on one thread)."""
    child = {s["id"]: 0.0 for s in spans}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


def check_tree(spans: list) -> None:
    """Raise unless the spans form one tree: one root, every other span's
    parent exists and encloses it, and every self time is ≥ 0."""
    ids = {s["id"]: s for s in spans}
    roots = [s for s in spans if s["parent"] is None]
    if len(roots) != 1:
        raise ValueError(f"expected one root span, found {len(roots)}")
    for s in spans:
        if s["end"] is None or s["end"] < s["start"]:
            raise ValueError(f"span {s['name']} not closed")
        p = s["parent"]
        if p is None:
            continue
        if p not in ids:
            raise ValueError(f"span {s['name']} has unknown parent {p}")
        if not (ids[p]["start"] <= s["start"] and s["end"] <= ids[p]["end"]):
            raise ValueError(f"span {s['name']} escapes its parent")
    bad = {i: v for i, v in self_times(spans).items() if v < -1e-9}
    if bad:
        raise ValueError(f"negative self time: {bad}")


# --------------------------------------------------------------------------
# layer wrappers
# --------------------------------------------------------------------------

class LayerPatch:
    """Context manager that wraps ``module.attr`` for every
    (module, attr, layer, after) in ``specs``; ``after(result, args,
    kwargs, rows)`` returns extra counts for the layer and runs in a
    ``trace.counters`` child span. Calls made while another layer span is
    open pass straight through (no nested barriers)."""

    def __init__(self, tracer: Tracer, specs: list):
        self.tracer, self.specs = tracer, specs
        self.saved: list = []
        self.persisted: list = []
        self.counts: dict = {}

    def _wrap(self, fn, layer: str, after):
        tracer, persisted, counts = self.tracer, self.persisted, self.counts

        def wrapper(*args, **kwargs):
            if tracer.depth() != 1:
                return fn(*args, **kwargs)
            with tracer.span(f"{layer}:{fn.__name__}", layer):
                out = fn(*args, **kwargs)
                rows = None
                if hasattr(out, "persist"):  # a DataFrame: run it here, once
                    persisted.append(out.persist())
                    rows = out.count()
                if after is not None:
                    with tracer.span("trace.counters"):
                        for k, v in after(out, args, kwargs, rows).items():
                            counts[k] = counts.get(k, 0) + v
            return out

        wrapper.__name__ = fn.__name__
        return wrapper

    def __enter__(self):
        for module, attr, layer, after in self.specs:
            fn = getattr(module, attr, None)
            if fn is None:  # renamed or removed: the layer reports zeros
                continue
            self.saved.append((module, attr, fn))
            setattr(module, attr, self._wrap(fn, layer, after))
        return self

    def __exit__(self, *exc):
        for module, attr, fn in reversed(self.saved):
            setattr(module, attr, fn)
        for df in self.persisted:
            df.unpersist()
        return False


# --------------------------------------------------------------------------
# Spark event log → per-job-group task metrics
# --------------------------------------------------------------------------

def read_event_log(path: str) -> dict:
    """group → {jobs, task_s, cpu_s, gc_s, shuffle_bytes, spill_bytes,
    task_skew}. Stages are attributed to the job group in the properties
    they were submitted with; ``task_skew`` is max/median task run time of
    the group's heaviest stage."""
    stage_group: dict = {}
    job_count: dict = {}
    tasks: dict = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            props = ev.get("Properties") or {}
            if kind == "SparkListenerJobStart":
                g = props.get("spark.jobGroup.id")
                job_count[g] = job_count.get(g, 0) + 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                stage_group[key] = props.get("spark.jobGroup.id")
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                tasks.setdefault(key, []).append(m)
    out: dict = {}

    def agg(g):
        return out.setdefault(g, {
            "jobs": job_count.get(g, 0), "task_s": 0.0, "cpu_s": 0.0,
            "gc_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0,
            "task_skew": 0.0, "_heaviest": 0.0,
        })

    for key, ms in tasks.items():
        a = agg(stage_group.get(key))
        run = [m["Executor Run Time"] / 1e3 for m in ms]
        a["task_s"] += sum(run)
        a["cpu_s"] += sum(m["Executor CPU Time"] for m in ms) / 1e9
        a["gc_s"] += sum(m["JVM GC Time"] for m in ms) / 1e3
        a["shuffle_bytes"] += sum(
            m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            for m in ms)
        a["spill_bytes"] += sum(m.get("Disk Bytes Spilled", 0) for m in ms)
        if sum(run) > a["_heaviest"]:
            med = statistics.median(run)
            a["_heaviest"] = sum(run)
            a["task_skew"] = max(run) / med if med > 0 else 1.0
    for g, n in job_count.items():
        agg(g)
    for a in out.values():
        del a["_heaviest"]
    return out


# --------------------------------------------------------------------------
# process-tree RSS and the CPU probe
# --------------------------------------------------------------------------

def descendants(root: int) -> set:
    """Every live process below ``root`` in the process tree."""
    parent: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields restart after the last ')'
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = set(), [root]
    while frontier:
        p = frontier.pop()
        for pid, pp in parent.items():
            if pp == p and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    return tree


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _tree_rss_bytes(root: int, jvm: int) -> int:
    """RSS of ``root``, the JVM and the JVM's Python workers. Other JVM
    children are left out: they are helpers the JVM spawns (Hadoop's local
    file system runs ``chmod``), and until such a child has exec'd, its RSS
    reads as a second copy of the JVM's — sampling one doubled the peak."""
    tree = {root, jvm} | {p for p in descendants(jvm)
                          if _comm(p).startswith("python")}
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the RSS of this process, the driver JVM ``jvm`` and its
    Python workers while ``active`` is set; keeps the peak (``peak = 0``
    starts a new window)."""

    def __init__(self, jvm: int, interval_s: float = 0.1):
        self.jvm = jvm
        self.interval_s = interval_s
        self.peak = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            if self.active.is_set():
                self.peak = max(self.peak, _tree_rss_bytes(me, self.jvm))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


def cpu_probe(seconds: float = 0.25) -> float:
    """Single-threaded md5 throughput in MB/s over a fixed block — recorded
    before and after each run so a contended host shows; never a gate."""
    blob = b"\xab" * 65536
    h = hashlib.md5()
    n = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        h.update(blob)
        n += 1
    return n * len(blob) / (time.perf_counter() - t0) / 1e6

"""Tracing from outside the library: spans around each call the
benchmark makes, joined afterwards to Spark's event log.

A span records name, start, end, parent and session id. Spans are kept
in memory and written as JSONL when the run ends. In a traced run each
span also sets a Spark job group, so the report can attribute every job
to the span that submitted it; jobs submitted from threads the library
starts itself carry no group and are attributed by time to the innermost
span open when they were submitted (the benchmark is a single closed-loop
client, so spans of one level never overlap).
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """Span recorder. Once ``sc`` is set (traced run) every span also sets
    the Spark job group; until then spans are plain timers."""

    def __init__(self):
        self.sc = None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.session = 0
        self.overhead_s = 0.0  # time spent in job-group calls

    def _set_group(self, span_id: int | None):
        if self.sc is None:
            return
        t = time.perf_counter()
        if span_id is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(str(span_id), self.spans[span_id]["name"])
        self.overhead_s += time.perf_counter() - t

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "session": self.session, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def write_jsonl(self, path: str):
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ------------------------------------------------------------ event log
def read_event_log(log_dir: str) -> dict:
    """Jobs (with their interval, group, stages and task count) and the
    byte counters of every task, from an uncompressed Spark event log."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {"start": ev["Submission Time"] / 1000.0, "end": None,
                             "group": props.get("spark.jobGroup.id"), "tasks": 0,
                             "input": 0, "shuffle_write": 0, "spill": 0}
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid is None:
                    continue
                j = jobs[jid]
                j["tasks"] += 1
                m = ev.get("Task Metrics") or {}
                j["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                j["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                j["spill"] += m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)
    return jobs


def attribute_jobs(spans: list[dict], jobs: dict) -> dict[int, list[dict]]:
    """Map span id -> the jobs it submitted: by job group when the job
    carries one of our span ids, else the innermost span whose interval
    holds the job's submission time."""
    by_span: dict[int, list[dict]] = {}
    ids = {str(s["id"]) for s in spans}
    for j in jobs.values():
        if j["group"] in ids:
            sid = int(j["group"])
        else:
            inside = [s for s in spans if s["start"] <= j["start"] <= s["end"]]
            if not inside:
                continue
            sid = max(inside, key=lambda s: s["start"])["id"]
        by_span.setdefault(sid, []).append(j)
    return by_span


def subtree(spans: list[dict], root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        sid = todo.pop()
        out.append(sid)
        todo.extend(s["id"] for s in spans if s["parent"] == sid)
    return out


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_jobs(spans, by_span, sid) -> list[dict]:
    return [j for s in subtree(spans, sid) for j in by_span.get(s, [])]


# ------------------------------------------------------------ process stats
def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a live process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_gc_seconds(sc) -> float:
    """Total collection time of the driver JVM's garbage collectors."""
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

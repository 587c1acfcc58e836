"""Spans, Spark job groups, event-log attribution and memory sampling.

Tracing is outside-in: the benchmark opens a span around each call it makes
into a package layer and runs the call under a Spark job group named after
the span.  Spans are held in memory and written out once, when the run ends.
After the Spark session stops, its event log is read back and every job is
attributed to the span whose job group it ran under; jobs that ran under no
benchmark group (work the program started on threads of its own) go to an
explicit ``unattributed`` bucket instead of being dropped.
"""

from __future__ import annotations

import glob
import json
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
# rows out of the operators that join or group on the MinHash band-key
# column (`key`): the band-join candidate rows of the LSH stage
_BAND_NODE = re.compile(r"(Join|Aggregate|Groups)[A-Za-z]*\s*(\[[^\]]*\]\s*,\s*)?\[key#\d+")
# rows out of the signature-estimate gate (the zip_with/aggregate fold over
# the two signatures, planned as a join condition or as a filter): the
# candidates that survive to the exact verify
_GATE_NODE = re.compile(r"^(Filter|\w*Join)\b.*zip_with\(")


class Tracer:
    """Span recorder.  ``enabled=False`` makes every span a plain timer with
    no job group, so the untraced path runs the identical calls."""

    def __init__(self, spark, run_id: str, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.phase = "setup"
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        """Time the body; when tracing, run its jobs under job group
        ``<run id>/<span id>`` and record (name, start, end, parent)."""
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "phase": self.phase,
            "group": None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if self.enabled:
            rec["group"] = f"{self.run_id}/{sid}"
            self.sc.setJobGroup(rec["group"], name, False)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.enabled:
                parent = self.spans[self._stack[-1]] if self._stack else None
                if parent is not None and parent["group"]:
                    self.sc.setJobGroup(parent["group"], parent["name"], False)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


class RssSampler:
    """Peak resident memory of a process tree (the Spark driver JVM and the
    Python workers it forks), sampled from /proc on a background thread.
    The root counts its resident set (VmRSS); each Python descendant counts
    its proportional share (Pss), so pages forked workers share with their
    parent are counted once.  (Pss of the multi-GB JVM itself costs ~20 ms
    of page-table walking per read, too intrusive to sample.)  Other
    descendants are skipped: a child the JVM is still spawning shares the
    JVM's address space and would count the heap twice."""

    def __init__(self, root_pid: int, interval: float = 0.5) -> None:
        self.root = root_pid
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _children() -> dict[int, list[int]]:
        kids: dict[int, list[int]] = defaultdict(list)
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            kids[ppid].append(int(d))
        return kids

    def sample(self) -> int:
        kids = self._children()
        todo, total = [self.root], 0
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, ()))
            path, field = (
                (f"/proc/{pid}/status", "VmRSS:") if pid == self.root
                else (f"/proc/{pid}/smaps_rollup", "Pss:")
            )
            try:
                if pid != self.root and "python" not in os.path.basename(
                    os.readlink(f"/proc/{pid}/exe")
                ):
                    continue
                with open(path) as f:
                    for line in f:
                        if line.startswith(field):
                            total += int(line.split()[1])
                            break
            except OSError:
                pass
        self.peak_kb = max(self.peak_kb, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.sample()
        return self.peak_kb / 1024.0


def _num(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def read_event_log(evdir: str) -> list[dict]:
    """One record per Spark job: its job group (None when the submitting
    thread had none), submission time, executor run time, shuffle bytes
    written, Arrow bytes to and from Python workers, failed tasks, and rows
    out of the band-key operators and out of the estimate gate."""
    files = sorted(glob.glob(os.path.join(evdir, "*", "events_*"))) or sorted(
        p for p in glob.glob(os.path.join(evdir, "*")) if os.path.isfile(p)
    )
    jobs: list[dict] = []
    stage_job: dict[int, dict] = {}
    band_accums: set[int] = set()
    gate_accums: set[int] = set()
    tasks: list[dict] = []

    def walk(node: dict) -> None:
        text = node.get("simpleString", "")
        for pattern, accums in ((_BAND_NODE, band_accums), (_GATE_NODE, gate_accums)):
            if pattern.search(text):
                for m in node.get("metrics", []):
                    if m.get("name") == "number of output rows":
                        accums.add(int(m["accumulatorId"]))
        for c in node.get("children", []):
            walk(c)

    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    job = {
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        "time": ev["Submission Time"] / 1000.0,
                        "task_s": 0.0,
                        "shuffle_bytes": 0,
                        "python_bytes": 0,
                        "failed_tasks": 0,
                        "band_rows": 0,
                        "gate_rows": 0,
                    }
                    jobs.append(job)
                    for s in ev["Stage IDs"]:
                        stage_job[s] = job
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
                elif kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"
                ):
                    walk(ev["sparkPlanInfo"])

    for ev in tasks:
        job = stage_job.get(ev["Stage ID"])
        if job is None:
            continue
        if ev.get("Task End Reason", {}).get("Reason") != "Success":
            job["failed_tasks"] += 1
        tm = ev.get("Task Metrics") or {}
        job["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
        job["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            if acc.get("Name") in _PY_BYTES:
                job["python_bytes"] += _num(acc.get("Update"))
            elif acc.get("ID") in band_accums:
                job["band_rows"] += _num(acc.get("Update"))
            elif acc.get("ID") in gate_accums:
                job["gate_rows"] += _num(acc.get("Update"))
    return jobs


def by_group(jobs: list[dict]) -> dict:
    """Sum the per-job figures of each job group."""
    out: dict = {}
    for job in jobs:
        g = out.setdefault(job["group"], {"jobs": 0})
        g["jobs"] += 1
        for k, v in job.items():
            if k not in ("group", "time"):
                g[k] = g.get(k, 0) + v
    return out

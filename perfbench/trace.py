"""Spans, streaming progress and Spark event-log parsing for the benchmark.

Every span is kept in memory and written once at the end of a run. A
span has a name, a start and end (wall-clock seconds), a parent and the
run id shared by all spans of the run. Levels: run → workload phase →
query call → micro-batch (listener progress) → emulator request and
Spark job → Spark stage. A span's self time is its duration minus the
part of it that its children cover.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from datetime import datetime
from pathlib import Path


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end,
             "parent": parent, "run": self.run_id, **attrs}
        )
        return len(self.spans) - 1

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None, **attrs):
        sid = self.add(name, time.time(), 0.0, parent, **attrs)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.time()

    def enclosing(self, start: float, end: float, level: str) -> int | None:
        """The innermost span of ``level`` whose interval holds [start, end]."""
        best = None
        for s in self.spans:
            if s.get("level") == level and s["start"] <= start and end <= s["end"] + 1e-3:
                if best is None or s["start"] >= self.spans[best]["start"]:
                    best = s["id"]
        return best

    def self_times(self) -> list[float]:
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return [
            (s["end"] - s["start"])
            - covered(children.get(s["id"], []), s["start"], s["end"])
            for s in self.spans
        ]

    def write(self, path: Path, extra: dict) -> None:
        selfs = self.self_times()
        spans = [dict(s, self_s=st) for s, st in zip(self.spans, selfs)]
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"run": self.run_id, **extra, "spans": spans}, indent=1))


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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


def make_progress_listener():
    """A ``StreamingQueryListener`` that keeps every progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.progress.append(
                {
                    "query": str(p.id),
                    "name": p.name,
                    "batch": p.batchId,
                    "start": iso_seconds(p.timestamp),
                    "rows": p.numInputRows,
                    "durationMs": dict(p.durationMs),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener()


def iso_seconds(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def read_event_log(log_dir: Path) -> dict:
    """Jobs and stages (with summed task metrics) from an uncompressed,
    non-rolling Spark event log."""
    files = [p for p in log_dir.iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"start": ev["Submission Time"] / 1000, "end": None, "tasks": 0,
                             "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "deser_s": 0.0,
                             "shuffle_read_bytes": 0, "fetch_wait_s": 0.0, "spill_bytes": 0}
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stages[info["Stage ID"]] = {
                    "start": info.get("Submission Time", 0) / 1000,
                    "end": info.get("Completion Time", 0) / 1000,
                    "job": stage_job.get(info["Stage ID"]),
                    "tasks": info.get("Number of Tasks", 0),
                }
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                sr = m.get("Shuffle Read Metrics", {})
                job["tasks"] += 1
                job["run_s"] += m["Executor Run Time"] / 1000
                job["cpu_s"] += m["Executor CPU Time"] / 1e9
                job["gc_s"] += m["JVM GC Time"] / 1000
                job["deser_s"] += m["Executor Deserialize Time"] / 1000
                job["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1000
                job["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return {"jobs": jobs, "stages": stages}


def spark_summary(jobs: dict[int, dict], windows: list[tuple[float, float]]) -> dict:
    """Job metrics summed over the jobs submitted inside ``windows`` (calls
    run one at a time, so a job belongs to the call whose window holds its
    submission), plus driver-only time: wall minus the union of job spans."""
    tot = {"jobs": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "deser_s": 0.0,
           "shuffle_read_bytes": 0, "fetch_wait_s": 0.0, "spill_bytes": 0, "driver_only_s": 0.0}
    for lo, hi in windows:
        inside = [j for j in jobs.values() if j["end"] is not None and lo <= j["start"] <= hi]
        tot["jobs"] += len(inside)
        for j in inside:
            for k in ("tasks", "run_s", "cpu_s", "gc_s", "deser_s", "shuffle_read_bytes",
                      "fetch_wait_s", "spill_bytes"):
                tot[k] += j[k]
        tot["driver_only_s"] += (hi - lo) - covered([(j["start"], j["end"]) for j in inside], lo, hi)
    return tot


def mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0

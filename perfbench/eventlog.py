"""Bench-side spans and the fold of a Spark event log into per-span rows.

Spans are recorded around calls into the program (name, start, end,
parent; kept in memory, written at the end). Each span labels the jobs its
thread submits with ``setJobGroup(span_id)``. Jobs submitted from other
threads (``pipeline._StageRunner.run_group`` commits stages from a thread
pool) carry no group; they are attributed to the innermost span whose
interval holds their submission time.
"""

from __future__ import annotations

import gzip
import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.sc = None          # SparkContext, once there is one

    def _label(self, span: dict | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(span["id"], span["name"])

    @contextmanager
    def span(self, name: str):
        rec = {"id": f"span{len(self.spans)}", "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self._label(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._label(self._stack[-1] if self._stack else None)


def read_events(path: Path):
    opener = gzip.open if path.suffix == ".gz" else open
    with opener(path, "rt") as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span duration minus the part of it its direct children cover."""
    out = {}
    for s in spans:
        kids = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                      for c in spans if c["parent"] == s["id"])
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in kids:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _owner(spans: list[dict], by_id: dict, group, submit_s: float):
    if group in by_id:
        return group
    best = None
    for s in spans:
        if s["start"] <= submit_s <= s["end"] and (
                best is None or s["start"] >= best["start"]):
            best = s
    return best["id"] if best else None


def fold(events, spans: list[dict]) -> dict:
    """Fold SparkListener events into one row per span id (plus ``None``
    for jobs outside every span): cpu_s (executorCpuTime), run_s
    (executorRunTime), shuffle_write_mb, spill_mb (disk bytes spilled),
    task_skew (max/median task run time of the span's longest stage) and
    jobs. Also returns the log's total executor CPU under ``"_total"``."""
    by_id = {s["id"]: s for s in spans}
    stage_job: dict[int, int] = {}
    job_owner: dict[int, str | None] = {}
    stage_tasks: dict[int, list[dict]] = {}
    total_cpu_ns = 0
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            job_owner[jid] = _owner(spans, by_id, group,
                                    ev["Submission Time"] / 1000)
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            row = {"run_ms": m.get("Executor Run Time", 0),
                   "cpu_ns": m.get("Executor CPU Time", 0),
                   "shuffle_w": (m.get("Shuffle Write Metrics") or {})
                   .get("Shuffle Bytes Written", 0),
                   "spill": m.get("Disk Bytes Spilled", 0)}
            total_cpu_ns += row["cpu_ns"]
            stage_tasks.setdefault(ev["Stage ID"], []).append(row)

    def blank():
        return {"cpu_s": 0.0, "run_s": 0.0, "shuffle_write_mb": 0.0,
                "spill_mb": 0.0, "jobs": 0, "task_skew": 1.0,
                "_top_run_ms": -1}

    rows: dict = {}
    for sid, tasks in stage_tasks.items():
        r = rows.setdefault(job_owner.get(stage_job.get(sid)), blank())
        run = [t["run_ms"] for t in tasks]
        r["cpu_s"] += sum(t["cpu_ns"] for t in tasks) / 1e9
        r["run_s"] += sum(run) / 1e3
        r["shuffle_write_mb"] += sum(t["shuffle_w"] for t in tasks) / 2**20
        r["spill_mb"] += sum(t["spill"] for t in tasks) / 2**20
        if sum(run) > r["_top_run_ms"]:
            r["_top_run_ms"] = sum(run)
            med = statistics.median(run)
            r["task_skew"] = max(run) / med if med > 0 else 1.0
    for owner in job_owner.values():
        rows.setdefault(owner, blank())["jobs"] += 1
    for r in rows.values():
        r.pop("_top_run_ms")
    rows["_total"] = {"cpu_s": total_cpu_ns / 1e9}
    return rows


def find_log(log_dir: Path) -> Path:
    logs = [p for p in log_dir.iterdir() if not p.name.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {logs}")
    return logs[0]

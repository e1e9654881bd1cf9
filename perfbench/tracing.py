"""Spans around the benchmark's calls into the program, and the Spark
event log of the traced run grouped by the job group each span sets.

A :class:`Tracer` is active only with ``--trace 1``; otherwise
:meth:`Tracer.span` only times the block. Task-level numbers come from
the event log, which :func:`env.start_session` turns on only in the
traced run and which is complete once the session has stopped.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        #: name -> list of (start_epoch_ms, end_epoch_ms)
        self.spans: dict[str, list[tuple[float, float]]] = {}
        #: workload -> (traced operations, result rows they returned)
        self.counts: dict[str, tuple[int, int]] = {}

    @contextmanager
    def span(self, name: str):
        """Time the block; when tracing, record it and tag its Spark jobs
        with the job group ``name``."""
        sc = self.spark.sparkContext
        if self.enabled:
            sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            if self.enabled:
                sc.setLocalProperty("spark.jobGroup.id", None)
                self.spans.setdefault(name, []).append((t0 * 1000.0, t1 * 1000.0))

    def seconds(self, name: str) -> float:
        return sum(b - a for a, b in self.spans.get(name, ())) / 1000.0


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class EventLog:
    """Jobs and tasks of one application's event log, by job group."""

    def __init__(self, log_dir: str) -> None:
        files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
        if len(files) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        with open(files[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    self.jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"],
                        "end": None,
                        "stages": ev["Stage IDs"],
                    }
                    for s in ev["Stage IDs"]:
                        stage_job[s] = jid
                elif kind == "SparkListenerJobEnd":
                    self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    self.tasks.append(_task(ev, stage_job))

    def summary(self, groups: list[str], wall_ms: list[tuple[float, float]]) -> dict[str, float]:
        """Execution totals over the jobs of ``groups``; ``wall_ms`` are
        the spans those groups cover, for the busy and driver-gap shares."""
        gs = set(groups)
        jobs = {j for j, v in self.jobs.items() if v["group"] in gs}
        tasks = [t for t in self.tasks if t["job"] in jobs]
        stages = {t["stage"] for t in tasks}
        wall = sum(b - a for a, b in wall_ms)
        busy = _union_ms([(t["launch"], t["finish"]) for t in tasks])
        per_stage: dict[int, list[float]] = {}
        for t in tasks:
            per_stage.setdefault(t["stage"], []).append(t["run_ms"])
        skew = max(
            (max(v) / (sum(v) / len(v)) for v in per_stage.values() if sum(v) > 0), default=1.0
        )
        write_jobs = {t["job"] for t in tasks if t["bytes_written"] > 0}
        mb = 1024.0 * 1024.0
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": len(tasks),
            "task_s": sum(t["run_ms"] for t in tasks) / 1000.0,
            "cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
            "shuffle_read_mb": sum(t["shuffle_read"] for t in tasks) / mb,
            "shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / mb,
            "spill_mb": sum(t["spill"] for t in tasks) / mb,
            "bytes_written_mb": sum(t["bytes_written"] for t in tasks) / mb,
            "records_read": sum(t["records_read"] for t in tasks),
            "python_mb": sum(t["python_bytes"] for t in tasks) / mb,
            "write_jobs": len(write_jobs),
            "write_s": sum(
                (self.jobs[j]["end"] - self.jobs[j]["start"]) for j in write_jobs
            ) / 1000.0,
            "max_task_skew": skew,
            "busy_frac": busy / wall if wall else 0.0,
            "driver_gap_s": max(0.0, wall - busy) / 1000.0,
        }


def _task(ev: dict, stage_job: dict[int, int]) -> dict:
    info = ev["Task Info"]
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    acc = {a.get("Name"): a.get("Update") for a in info.get("Accumulables", [])}

    def num(name: str) -> int:
        v = acc.get(name)
        try:
            return int(v)
        except (TypeError, ValueError):
            return 0

    return {
        "stage": ev["Stage ID"],
        "job": stage_job.get(ev["Stage ID"]),
        "launch": info["Launch Time"],
        "finish": info["Finish Time"],
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "bytes_written": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
        "records_read": (m.get("Input Metrics") or {}).get("Records Read", 0),
        "python_bytes": num("data sent to Python workers"),
    }

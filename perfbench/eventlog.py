"""Executor-side metrics from a Spark event log, as named numbers.

The engine labels its jobs with descriptions (``append:<table> b<N>``,
``fused-agg r<N>``, ``dense-order``); tasks are grouped by those labels
with the batch/round suffix dropped, so ``append:documents b3`` counts
under ``append.documents``. Only stages that start inside the given time
window count, so set-up, warm-up and replay jobs stay out.
"""

from __future__ import annotations

import json
import os
import re

_SUFFIX = re.compile(r"\s+[br]\d+$")


def _group(desc: str | None) -> str:
    if not desc:
        return "other"
    return _SUFFIX.sub("", desc).replace(":", ".")


def _events(log_dir: str):
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:  # torn last line
                    continue


def summarize(log_dir: str, t0: float, t1: float) -> dict:
    """Metrics for jobs/stages/tasks inside ``[t0, t1]`` (epoch seconds).

    Returns task/GC seconds, shuffle-write and spill bytes (totals and
    task seconds per job-description group), the job count and the wall
    time in the window during which no stage was running."""
    lo, hi = t0 * 1000.0, t1 * 1000.0
    stage_group: dict[int, str] = {}
    jobs = 0
    spans = []
    task_s: dict[str, float] = {}
    tot = {"task_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
           "spill_bytes": 0}
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if not lo <= ev.get("Submission Time", 0) <= hi:
                continue
            jobs += 1
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = _group(desc)
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            start, end = si.get("Submission Time"), si.get("Completion Time")
            if start and end and lo <= start <= hi:
                spans.append((start, min(end, hi)))
        elif kind == "SparkListenerTaskEnd":
            ti = ev.get("Task Info") or {}
            if not lo <= ti.get("Launch Time", 0) <= hi:
                continue
            tm = ev.get("Task Metrics") or {}
            secs = (ti.get("Finish Time", 0) - ti["Launch Time"]) / 1000.0
            g = stage_group.get(ev.get("Stage ID"), "other")
            task_s[g] = task_s.get(g, 0.0) + secs
            tot["task_s"] += secs
            tot["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            sw = tm.get("Shuffle Write Metrics") or {}
            tot["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            tot["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
    covered, last = 0.0, lo
    for s, e in sorted(spans):
        s = max(s, last)
        if e > s:
            covered += e - s
            last = e
    tot["jobs"] = jobs
    tot["idle_s"] = max(0.0, (hi - lo - covered) / 1000.0)
    tot["task_s_by_group"] = task_s
    return tot

"""Parser for Spark's JSON event log (uncompressed, one event per line).

Only jobs whose job group the caller selects are counted, so the
set-up and verification work of a run stays out of the per-layer
figures. Totals are sums over those jobs, their stages and their tasks.
"""

from __future__ import annotations

import json
from collections import Counter
from collections.abc import Callable, Iterable, Iterator
from pathlib import Path

from perfbench.trace import covered

_MB = 1024.0 * 1024.0

#: SQL metric name (as the event log spells it) -> (per-layer metric,
#: factor from the metric's unit: bytes for sizes, ms for timings).
PYTHON_METRICS = {
    "data sent to Python workers": ("python.sent_mb", 1 / _MB),
    "data returned from Python workers": ("python.returned_mb", 1 / _MB),
    "time to start Python workers": ("python.start_s", 1e-3),
    "time to initialize Python workers": ("python.init_s", 1e-3),
    "time to run Python workers": ("python.run_s", 1e-3),
}


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def app_lines(log_dir: Path, app_id: str) -> Iterator[str]:
    """Lines of one application's log, rolling (``eventlog_v2_<app>/events_<n>_<app>``) or not."""
    parts = sorted(log_dir.glob(f"eventlog_v2_{app_id}/events_*_{app_id}"),
                   key=lambda p: int(p.name.split("_")[1]))
    for path in parts or [log_dir / app_id]:
        with open(path) as f:
            yield from f


def parse(lines: Iterable[str], counted: Callable[[str], bool]) -> dict[str, float]:
    """Totals over the jobs whose ``spark.jobGroup.id`` satisfies ``counted``.

    Returns ``exec.*`` and ``python.*`` metrics plus ``io.scan_mb`` and
    ``jobs.<phase>`` counts, where the phase is the text after the last
    ``|`` of the job group.
    """
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    job_spans: list[tuple[float, float]] = []
    stage_job: dict[int, int] = {}
    stages: set[int] = set()
    phases: Counter[str] = Counter()
    t: Counter[str] = Counter()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if not counted(group):
                continue
            jid = ev["Job ID"]
            job_group[jid] = group
            job_start[jid] = ev.get("Submission Time", 0)
            phases[group.rsplit("|", 1)[-1]] += 1
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                job_spans.append((job_start[jid], ev.get("Completion Time", job_start[jid])))
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_job:
                stages.add(sid)
        elif kind == "SparkListenerTaskEnd":
            if ev.get("Stage ID") not in stage_job:
                continue
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            t["tasks"] += 1
            if info.get("Failed") or info.get("Killed"):
                t["failed_tasks"] += 1
            t["run_ms"] += m.get("Executor Run Time", 0)
            t["cpu_ns"] += m.get("Executor CPU Time", 0)
            t["gc_ms"] += m.get("JVM GC Time", 0)
            t["spill_b"] += m.get("Disk Bytes Spilled", 0)
            t["scan_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            t["sread_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            t["fetch_ms"] += sr.get("Fetch Wait Time", 0)
            t["swrite_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            for acc in info.get("Accumulables", []):
                if acc.get("Name") in PYTHON_METRICS:
                    name, scale = PYTHON_METRICS[acc["Name"]]
                    t[name] += _num(acc.get("Update")) * scale
    out = {
        "exec.s": covered(job_spans) / 1000.0,
        "exec.jobs": float(len(job_group)),
        "exec.stages": float(len(stages)),
        "exec.tasks": float(t["tasks"]),
        "exec.failed_tasks": float(t["failed_tasks"]),
        "exec.task_run_s": t["run_ms"] / 1e3,
        "exec.task_cpu_s": t["cpu_ns"] / 1e9,
        "exec.gc_s": t["gc_ms"] / 1e3,
        "exec.shuffle_write_mb": t["swrite_b"] / _MB,
        "exec.shuffle_read_mb": t["sread_b"] / _MB,
        "exec.fetch_wait_s": t["fetch_ms"] / 1e3,
        "exec.spill_mb": t["spill_b"] / _MB,
        "io.scan_mb": t["scan_b"] / _MB,
    }
    out.update({name: float(t[name]) for name, _ in PYTHON_METRICS.values()})
    out.update({f"jobs.{phase}": float(n) for phase, n in phases.items()})
    return out

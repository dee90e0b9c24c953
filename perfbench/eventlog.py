"""Spark event-log phase parser.

Reads an uncompressed Spark event log (one JSON event per line), maps
jobs -> stages -> tasks, and groups them by the engine's job descriptions
``r{n}:{phase}`` into the benchmark's phases. Per round and phase it reports
the union of the jobs' intervals (writes overlap on the round's thread pool,
so spans are never summed), its self time (the part of that union no other
phase's job covers), executor time and bytes from the task metrics,
and per round the driver gap: round wall minus the union of all job spans.

Run directly to print a per-round table:
``python3 perfbench/eventlog.py <event-log-file>``.
"""

from __future__ import annotations

import json
import re
import sys
from dataclasses import dataclass, field

# benchmark phase -> the engine's job labels that make it up
PHASES = {
    "dedup": ("cand(expire+dedup)",),
    "bloom": ("bloom-full-build", "bloom-delta"),
    "topk": ("pruned-pop-count", "wave(topk)"),
    "fetch_parse": ("fetch+parse",),
    "accounting": ("accounting",),
    "write": ("write-deltas",),
    "frontier_write": ("frontier-delta", "frontier-snapshot"),
}
LABEL_PHASE = {label: ph for ph, labels in PHASES.items() for label in labels}
QUANTITIES = (
    "span_s", "self_s", "exec_run_s", "exec_cpu_s", "wait_s", "jobs", "tasks",
    "shuffle_bytes", "input_bytes", "output_bytes", "spill_bytes", "gc_s",
    "failed_tasks",
)
UNITS = {
    "span_s": "s", "self_s": "s", "exec_run_s": "s", "exec_cpu_s": "s", "wait_s": "s",
    "jobs": "count", "tasks": "count", "shuffle_bytes": "B", "input_bytes": "B",
    "output_bytes": "B", "spill_bytes": "B", "gc_s": "s", "failed_tasks": "count",
}
_DESC = re.compile(r"^r(\d+):(.+)$")


@dataclass
class Job:
    job_id: int
    start: float  # seconds since the epoch
    end: float | None
    round: int | None  # from the label
    label: str | None
    stages: list[int]


@dataclass
class Stage:
    stage_id: int
    submit: float | None = None
    tasks: list[dict] = field(default_factory=list)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
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


def read_events(path: str):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def parse(events) -> tuple[dict[int, Job], dict[int, Stage]]:
    """Jobs and stages (with their finished tasks) from event dicts."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
            m = _DESC.match(desc)
            j = Job(
                job_id=ev["Job ID"],
                start=ev["Submission Time"] / 1000.0,
                end=None,
                round=int(m.group(1)) if m else None,
                label=m.group(2) if m else None,
                stages=list(ev.get("Stage IDs") or []),
            )
            jobs[j.job_id] = j
            for sid in j.stages:
                # a stage listed by several jobs runs under the first
                stage_job.setdefault(sid, j.job_id)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            if info.get("Submission Time") is not None:
                st.submit = info["Submission Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            stages.setdefault(sid, Stage(sid)).tasks.append(ev)
    for j in jobs.values():
        j.stages = [s for s in j.stages if stage_job.get(s) == j.job_id]
    return jobs, stages


def _task_quantities(task: dict, stage_submit: float | None) -> dict:
    info = task.get("Task Info") or {}
    m = task.get("Task Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    launch = (info.get("Launch Time") or 0) / 1000.0
    failed = bool(info.get("Failed")) or (
        (task.get("Task End Reason") or {}).get("Reason", "Success") != "Success"
    )
    return {
        "exec_run_s": (m.get("Executor Run Time") or 0) / 1000.0,
        "exec_cpu_s": (m.get("Executor CPU Time") or 0) / 1e9,
        "wait_s": max(0.0, launch - stage_submit) if stage_submit else 0.0,
        "tasks": 1,
        "shuffle_bytes": (sw.get("Shuffle Bytes Written") or 0),
        "input_bytes": ((m.get("Input Metrics") or {}).get("Bytes Read") or 0),
        "output_bytes": ((m.get("Output Metrics") or {}).get("Bytes Written") or 0),
        "spill_bytes": (m.get("Memory Bytes Spilled") or 0) + (m.get("Disk Bytes Spilled") or 0),
        "gc_s": (m.get("JVM GC Time") or 0) / 1000.0,
        "failed_tasks": int(failed),
    }


def round_profile(jobs, stages, round_spans=None) -> list[dict]:
    """Per-round phase table.

    ``round_spans``: ``[(round, start_s, end_s)]`` measured around each round
    by the caller. A job belongs to the round whose span contains its
    submission time; this matters because a job description sticks to its
    thread, so jobs a round submits before its first label carry the
    previous round's label; such jobs, and jobs with labels outside PHASES,
    go to the phase "other". Without spans, jobs are grouped by their label's
    round and the round wall is the extent of its jobs.
    """
    if round_spans is None:
        by_round: dict[int, list[Job]] = {}
        for j in jobs.values():
            if j.round is not None and j.end is not None:
                by_round.setdefault(j.round, []).append(j)
        round_spans = [
            (r, min(j.start for j in js), max(j.end for j in js))
            for r, js in sorted(by_round.items())
        ]
    out = []
    for rnd, t0, t1 in round_spans:
        rjobs = [j for j in jobs.values() if j.end is not None and t0 <= j.start <= t1]
        phases = {ph: {q: 0.0 for q in QUANTITIES} for ph in (*PHASES, "other")}
        intervals: dict[str, list] = {ph: [] for ph in phases}
        for j in rjobs:
            # a stale label (previous round's) or an unknown one: "other"
            ph = LABEL_PHASE.get(j.label, "other") if j.round == rnd else "other"
            intervals[ph].append((j.start, min(j.end, t1)))
            phases[ph]["jobs"] += 1
            for sid in j.stages:
                st = stages.get(sid)
                if st is None:
                    continue
                for t in st.tasks:
                    for q, v in _task_quantities(t, st.submit).items():
                        phases[ph][q] += v
        wall = t1 - t0
        busy = union_length([iv for ivs in intervals.values() for iv in ivs])
        for ph, iv in intervals.items():
            phases[ph]["span_s"] = union_length(iv)
            rest = [x for other, ivs in intervals.items() if other != ph for x in ivs]
            phases[ph]["self_s"] = busy - union_length(rest)
        out.append({
            "round": rnd,
            "wall_s": wall,
            "jobs": len(rjobs),
            "driver_gap_s": wall - busy,
            "phases": phases,
        })
    return out


def main() -> None:
    jobs, stages = parse(read_events(sys.argv[1]))
    for r in round_profile(jobs, stages):
        cells = " ".join(
            f"{ph}={p['span_s']:.2f}" for ph, p in r["phases"].items() if p["jobs"]
        )
        print(f"r{r['round']} wall={r['wall_s']:.2f} jobs={r['jobs']} "
              f"gap={r['driver_gap_s']:.2f} {cells}")


if __name__ == "__main__":
    main()

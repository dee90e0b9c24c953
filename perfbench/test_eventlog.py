"""Unit test of the event-log phase parser on a small canned log.

    python3 -m pytest perfbench/test_eventlog.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import eventlog  # noqa: E402


def _job(jid, desc, start, end, stages):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid,
         "Submission Time": int(start * 1000), "Stage IDs": stages,
         "Properties": {"spark.job.description": desc}},
        {"Event": "SparkListenerJobEnd", "Job ID": jid,
         "Completion Time": int(end * 1000),
         "Job Result": {"Result": "JobSucceeded"}},
    ]


def _stage(sid, submit, tasks):
    evs = [{"Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": sid, "Submission Time": int(submit * 1000)}}]
    for launch, run_ms, failed in tasks:
        evs.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": sid,
            "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
            "Task Info": {"Launch Time": int(launch * 1000),
                          "Finish Time": int((launch + run_ms / 1000) * 1000),
                          "Failed": failed},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 500_000,
                "JVM GC Time": 10, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 7,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 1000},
                "Input Metrics": {"Bytes Read": 50},
                "Output Metrics": {"Bytes Written": 20},
            },
        })
    return evs


def canned_events():
    """Round 3 of a crawl. Two write-deltas jobs overlap each other and a
    frontier-snapshot job (the round's writer pool); one job at round start
    still carries round 2's label."""
    evs = []
    evs += _job(0, "r3:cand(expire+dedup)", 100.0, 101.0, [0])
    evs += _stage(0, 100.1, [(100.2, 500, False), (100.3, 300, False)])
    evs += _job(1, "r3:write-deltas", 102.0, 104.0, [1])
    evs += _stage(1, 102.0, [(102.5, 1000, False)])
    evs += _job(2, "r3:write-deltas", 103.0, 105.0, [2, 0])  # stage 0 is shared
    evs += _stage(2, 103.0, [(103.25, 1000, True)])
    evs += _job(3, "r3:frontier-snapshot", 104.5, 105.5, [3])
    evs += _stage(3, 104.5, [(104.5, 900, False)])
    evs += _job(4, "r2:bloom-delta", 99.6, 99.7, [4])
    evs += _stage(4, 99.6, [(99.6, 50, False)])
    return evs


@pytest.fixture()
def parsed():
    return eventlog.parse(canned_events())


def test_union_length_merges_overlaps():
    assert eventlog.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert eventlog.union_length([]) == 0


def test_round_profile_with_spans(parsed):
    jobs, stages = parsed
    (r,) = eventlog.round_profile(jobs, stages, [(3, 99.5, 106.0)])
    ph = r["phases"]
    assert r["jobs"] == 5
    assert r["wall_s"] == pytest.approx(6.5)
    # busy = [99.6,99.7] + [100,101] + [102,105.5] = 4.6
    assert r["driver_gap_s"] == pytest.approx(6.5 - 4.6)
    # overlapping write jobs: union, not sum
    assert ph["write"]["span_s"] == pytest.approx(3.0)
    assert ph["write"]["jobs"] == 2
    assert ph["write"]["self_s"] == pytest.approx(2.5)
    assert ph["frontier_write"]["span_s"] == pytest.approx(1.0)
    assert ph["frontier_write"]["self_s"] == pytest.approx(0.5)
    # the stale round-2 label lands in "other", not in bloom
    assert ph["bloom"]["jobs"] == 0
    assert ph["other"]["span_s"] == pytest.approx(0.1)
    # the shared stage counts once, under the job that listed it first
    assert ph["dedup"]["tasks"] == 2
    assert ph["write"]["tasks"] == 2
    assert ph["dedup"]["exec_run_s"] == pytest.approx(0.8)
    assert ph["dedup"]["exec_cpu_s"] == pytest.approx(0.4)
    assert ph["dedup"]["wait_s"] == pytest.approx(0.1 + 0.2)
    assert ph["write"]["wait_s"] == pytest.approx(0.5 + 0.25)
    assert ph["write"]["failed_tasks"] == 1
    assert ph["write"]["shuffle_bytes"] == 2000
    assert ph["write"]["spill_bytes"] == 14
    assert ph["write"]["gc_s"] == pytest.approx(0.02)
    # phase spans plus the gap over-cover the wall by exactly the overlap
    total = sum(p["span_s"] for p in ph.values()) + r["driver_gap_s"]
    assert total == pytest.approx(r["wall_s"] + 0.5)


def test_round_profile_without_spans_groups_by_label(parsed):
    jobs, stages = parsed
    rounds = {r["round"]: r for r in eventlog.round_profile(jobs, stages)}
    assert set(rounds) == {2, 3}
    assert rounds[3]["wall_s"] == pytest.approx(5.5)
    assert rounds[2]["phases"]["bloom"]["jobs"] == 1


def test_read_events_roundtrip(tmp_path, parsed):
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(e) for e in canned_events()) + "\n")
    jobs, _ = eventlog.parse(eventlog.read_events(str(path)))
    assert sorted(jobs) == sorted(parsed[0])


def test_traced_run_reports_every_per_layer_metric(tmp_path):
    """The traced run's metric names and units are exactly BENCHMARK.json's
    per_layer list, and the canned round's numbers flow through."""
    from argparse import Namespace

    from crawler_spark.engine import RoundStats
    from perfbench.harness import Run

    (tmp_path / "eventlog").mkdir()
    (tmp_path / "eventlog" / "local-1").write_text(
        "\n".join(json.dumps(e) for e in canned_events()) + "\n"
    )
    args = Namespace(trace=1, workload="canned", out_dir=str(tmp_path))
    run = Run(args, str(tmp_path), cpus=1)
    run.round_spans = [(3, 99.5, 106.0)]
    stats = [RoundStats(round=3, selected=10, fetched_ok=8, failed=2,
                        new_links=4, items=8, wall_s=6.5)]
    speed = {"urls_per_s": 1.5, "round_s_p50": 6.5, "round_cpu_s": 20.0, "resume_s": 7.0}
    got = run.layer_metrics(stats, frontier_rows=[40], speed=speed)

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        want = json.load(f)["per_layer"]
    assert [(k, u) for k, (_, u) in got.items()] == [(m["name"], m["unit"]) for m in want]
    assert got["write.span_s"][0] == pytest.approx(3.0)
    assert got["engine.driver_gap_s"][0] == pytest.approx(1.9)
    assert got["engine.jobs_per_round"][0] == 5
    assert got["dedup.survivor_ratio"][0] == pytest.approx(0.25)
    assert got["fetch.ok_ratio"][0] == pytest.approx(0.8)
    assert got["parse.links_per_page"][0] == pytest.approx(0.5)
    assert got["trace.resume_s"][0] == 7.0
    assert (tmp_path / "canned_profile.json").exists()

"""Job-level timeline of one fat-wave round via the Spark UI REST API.

Usage: python scripts/profile_jobs.py local[16] [n_books] [pad]

Runs the same steady-state fat round as bench.py's scaling protocol, then
pulls /api/v1/applications/<id>/jobs and prints, for the LAST (warm) run:

- each job: description, duration, gap since previous job ended;
- totals: sum of job time vs wall time (the difference = serial driver
  time: planning, analysis, commit, manifest IO, scheduling).

This is the instrument for the scaling gate: driver time is the part that
does not shrink with cores.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crawler_spark.engine import CrawlEngine
from crawler_spark.fixtures_big import (
    bench_tasks_rules_robots,
    big_web_graph,
    fat_frontier,
)
from crawler_spark.operators.fetch import GraphFetcher
from crawler_spark.session import get_spark


def fetch_jobs(ui_port: int = 4040) -> list[dict]:
    base = f"http://localhost:{ui_port}/api/v1/applications"
    apps = json.load(urllib.request.urlopen(base, timeout=10))
    app_id = apps[0]["id"]
    return json.load(
        urllib.request.urlopen(f"{base}/{app_id}/jobs?status=succeeded", timeout=10)
    )


def fetch_stages(ui_port: int = 4040) -> dict[int, str]:
    base = f"http://localhost:{ui_port}/api/v1/applications"
    apps = json.load(urllib.request.urlopen(base, timeout=10))
    app_id = apps[0]["id"]
    stages = json.load(
        urllib.request.urlopen(f"{base}/{app_id}/stages", timeout=10)
    )
    return {s["stageId"]: s.get("name", "")[:60] for s in stages}


def parse_ts(s: str) -> float:
    # "2026-08-17T12:34:56.789GMT"
    from datetime import datetime, timezone

    return (
        datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z")
        .astimezone(timezone.utc)
        .timestamp()
    )


def main() -> None:
    master = sys.argv[1] if len(sys.argv) > 1 else "local[16]"
    n_books = int(sys.argv[2]) if len(sys.argv) > 2 else 400_000
    pad = int(sys.argv[3]) if len(sys.argv) > 3 else 8000
    runs = int(os.environ.get("PROFILE_RUNS", "2"))

    spark = get_spark(
        "profile-jobs", master=master,
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_FAT_PARTS", "128")),
        extra_conf={"spark.ui.enabled": "true"},
    )
    tasks, rules, robots = bench_tasks_rules_robots(task_budget_per_round=n_books * 2)
    corpus = os.environ.get("SPARK_GRAFT_FAT_CORPUS")
    if corpus and os.path.isdir(os.path.join(corpus, "graph")):
        n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
        spark.sql(
            "CREATE TABLE IF NOT EXISTS bench_fat_graph "
            "(gcurl STRING, status INT, body STRING, latency_ms INT) "
            f"USING PARQUET CLUSTERED BY (gcurl) INTO {n_buckets} BUCKETS "
            f"LOCATION '{os.path.join(corpus, 'graph')}'"
        )
        fetcher = GraphFetcher(spark.table("bench_fat_graph"), prepped=True)
        frontier = spark.read.parquet(os.path.join(corpus, "frontier")).cache()
    else:
        web = big_web_graph(
            spark, n_tags=1, lists_per_tag=max(1, -(-n_books // 60)),
            books_per_list=60, n_topics=1, pad_to=pad,
        )
        fetcher = GraphFetcher(web)
        frontier = fat_frontier(spark, n_books).cache()
    fetcher.graph.count()
    frontier.count()

    walls = []
    for attempt in range(runs):
        d = tempfile.mkdtemp(prefix="pj_", dir="/dev/shm" if os.path.isdir("/dev/shm") else None)
        try:
            eng = CrawlEngine(
                spark, f"{d}/state", fetcher, tasks, rules, robots,
                round_s=60,
            )
            eng.init_state(frontier)
            if attempt == runs - 1:
                mark = len(fetch_jobs())  # jobs before the measured run
                t_round0 = time.time()
            t0 = time.time()
            eng.run(max_rounds=1)
            walls.append(time.time() - t0)
        finally:
            shutil.rmtree(d, ignore_errors=True)

    jobs = fetch_jobs()
    stage_names = fetch_stages()
    jobs = sorted(jobs, key=lambda j: j["jobId"])[mark:]
    jobs = [j for j in jobs if parse_ts(j["submissionTime"]) >= t_round0 - 1]
    prev_end = None
    total_job = 0.0
    total_gap = 0.0
    by_desc: dict[str, list[float]] = {}
    print(f"--- warm-run jobs ({master}, wall {walls[-1]:.2f}s) ---")
    for j in jobs:
        sub = parse_ts(j["submissionTime"])
        end = parse_ts(j["completionTime"])
        dur = end - sub
        gap = (sub - prev_end) if prev_end is not None else 0.0
        prev_end = max(prev_end or end, end)
        total_job += dur
        total_gap += max(gap, 0)
        desc = (j.get("description") or j["name"])[:70]
        by_desc.setdefault(desc.split(":", 1)[-1], []).append(dur)
        snames = "; ".join(
            stage_names.get(sid, "?") for sid in sorted(j.get("stageIds", []))
        )[:120]
        print(
            f"  job {j['jobId']:>4} {dur:7.2f}s  gap {max(gap,0):6.2f}s  {desc}"
            f"  [{snames}]"
        )
    print(f"njobs={len(jobs)} sum_job={total_job:.2f}s sum_gap={total_gap:.2f}s wall={walls[-1]:.2f}s")
    agg = {k: round(sum(v), 2) for k, v in sorted(by_desc.items())}
    print("JOBPROF " + json.dumps({
        "master": master, "walls": [round(w, 2) for w in walls],
        "njobs": len(jobs), "sum_job_s": round(total_job, 2),
        "sum_gap_s": round(total_gap, 2), "by_desc": agg,
    }))
    spark.stop()


if __name__ == "__main__":
    main()

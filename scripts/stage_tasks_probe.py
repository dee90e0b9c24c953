"""Per-stage task metrics of one fat-wave round (UI REST).

Usage: python scripts/stage_tasks_probe.py 'local[16]' [n_books] [pad]

Runs a warm fat round and prints, for every stage of the measured run:
stage wall, numTasks, sum executorRunTime (slot-s), sum executorCpuTime,
and the task-duration quantiles — the instrument that separates
"straggler tail inside a stage" from "per-task constants" from
"serial gaps between stages".
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
from crawler_spark.fixtures_big import bench_tasks_rules_robots, big_web_graph, fat_frontier
from crawler_spark.operators.fetch import GraphFetcher
from crawler_spark.session import get_spark


def api(path: str):
    base = "http://localhost:4040/api/v1/applications"
    apps = json.load(urllib.request.urlopen(base, timeout=10))
    return json.load(
        urllib.request.urlopen(f"{base}/{apps[0]['id']}{path}", timeout=10)
    )


def parse_ts(s: str) -> float:
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

    spark = get_spark(
        "stage-tasks", master=master,
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

    # time each table write individually (pool threads print table+wall)
    from crawler_spark.state import SnapshotStore

    orig_append = SnapshotStore.append
    orig_wf = SnapshotStore.write_frontier

    def timed_append(self, table, rnd, df, **kw):
        t0 = time.time()
        orig_append(self, table, rnd, df, **kw)
        print(f"    WRITE {table}: {time.time()-t0:.2f}s", flush=True)

    def timed_wf(self, rnd, df):
        t0 = time.time()
        orig_wf(self, rnd, df)
        print(f"    WRITE frontier: {time.time()-t0:.2f}s", flush=True)

    SnapshotStore.append = timed_append
    SnapshotStore.write_frontier = timed_wf

    runs = int(os.environ.get("PROFILE_RUNS", "2"))
    t_round0 = 0.0
    for attempt in range(runs):
        d = tempfile.mkdtemp(prefix="stp_", dir="/dev/shm")
        try:
            eng = CrawlEngine(
                spark, f"{d}/state", fetcher, tasks, rules, robots,
                round_s=60,
            )
            eng.init_state(frontier)
            if attempt == runs - 1:
                t_round0 = time.time()
            t0 = time.time()
            eng.run(max_rounds=1)
            wall = time.time() - t0
        finally:
            shutil.rmtree(d, ignore_errors=True)

    stages = api("/stages?status=complete")
    rows = []
    for s in stages:
        if parse_ts(s["submissionTime"]) < t_round0 - 0.5:
            continue
        sid, att = s["stageId"], s["attemptId"]
        try:
            q = api(
                f"/stages/{sid}/{att}/taskSummary"
                "?quantiles=0.0,0.5,0.95,1.0"
            )
            dq = [round(x / 1000.0, 2) for x in q.get("duration", [])]
        except Exception:
            dq = []
        rows.append(
            {
                "stage": sid,
                "wall": round(
                    parse_ts(s["completionTime"]) - parse_ts(s["firstTaskLaunchedTime"]), 2,
                ),
                "ntasks": s["numCompleteTasks"],
                "run_s": round(s["executorRunTime"] / 1000.0, 1),
                "cpu_s": round(s["executorCpuTime"] / 1e9, 1),
                "dur_q": dq,
                "name": s["name"][:50],
            }
        )
    rows.sort(key=lambda r: r["stage"])
    print(f"WALL {wall:.2f}s master={master}")
    for r in rows:
        print(
            f"  st{r['stage']:>4} wall={r['wall']:>6.2f} n={r['ntasks']:>4} "
            f"run={r['run_s']:>7.1f} cpu={r['cpu_s']:>7.1f} q={r['dur_q']} {r['name']}"
        )


if __name__ == "__main__":
    main()

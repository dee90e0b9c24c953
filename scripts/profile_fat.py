"""Per-stage profile of one fat-wave round at a given parallelism.

Usage: python scripts/profile_fat.py local[4] [n_books] [pad]

Monkeypatches CrawlEngine._desc to record wall timestamps at each job-label
boundary, and wraps GraphFetcher.fetch to materialize the fetch join
separately from the parse stage so the two show up as distinct intervals.
Prints a JSON line of stage -> seconds.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crawler_spark.engine import CrawlEngine
from crawler_spark.fixtures_big import (
    bench_tasks_rules_robots,
    big_web_graph,
    fat_frontier,
)
from crawler_spark.operators.fetch import GraphFetcher
from crawler_spark.session import get_spark


def main() -> None:
    master = sys.argv[1] if len(sys.argv) > 1 else "local[4]"
    n_books = int(sys.argv[2]) if len(sys.argv) > 2 else 400_000
    pad = int(sys.argv[3]) if len(sys.argv) > 3 else 8000
    runs = int(os.environ.get("PROFILE_RUNS", "3"))

    spark = get_spark("profile-fat", master=master,
                  shuffle_partitions=int(os.environ.get("SPARK_GRAFT_FAT_PARTS", "128")))
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
            spark, n_tags=1, lists_per_tag=max(1, -(-n_books // 60)), books_per_list=60,
            n_topics=1, pad_to=pad,
        )
        fetcher = GraphFetcher(web)
        frontier = fat_frontier(spark, n_books).cache()
    n_pages = fetcher.graph.count()
    frontier.count()

    # --- instrument: timestamps at each _desc boundary + separate fetch mat.
    marks: list[tuple[str, float]] = []

    orig_desc = CrawlEngine._desc

    def timed_desc(self, rnd, what):
        marks.append((what, time.time()))
        orig_desc(self, rnd, what)

    CrawlEngine._desc = timed_desc

    all_stage_times = []
    for attempt in range(runs):
        marks.clear()
        d = tempfile.mkdtemp(prefix="profile_fat_", dir="/dev/shm" if os.path.isdir("/dev/shm") else None)
        try:
            eng = CrawlEngine(
                spark, f"{d}/state", fetcher, tasks, rules, robots,
                round_s=60,
            )
            eng.init_state(frontier)
            t0 = time.time()
            marks.append(("start", t0))
            stats = eng.run(max_rounds=1)
            tend = time.time()
            marks.append(("end", tend))
            stage_s = {}
            for (what, t), (_, tnext) in zip(marks, marks[1:]):
                stage_s[what] = round(stage_s.get(what, 0) + (tnext - t), 2)
            stage_s["TOTAL"] = round(tend - t0, 2)
            stage_s["urls"] = stats[0].selected if stats else 0
            all_stage_times.append(stage_s)
            print(f"RUN{attempt} {master} " + json.dumps(stage_s), flush=True)
        finally:
            shutil.rmtree(d, ignore_errors=True)
    print("PROFILE " + json.dumps({
        "master": master, "n_books": n_books, "pad": pad, "n_pages": n_pages,
        "runs": all_stage_times,
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()

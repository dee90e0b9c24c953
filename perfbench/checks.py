"""Output checks: each returns the set of committed rounds whose output
differs from what the oracle says the round must produce. An empty set
means the crawl is correct."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawler_spark.oracle import run_oracle
from crawler_spark.textcore import (
    extract_spans,
    initial_carry,
    seen_key,
    task_budget,
    tier_carry_after,
)
from perfbench import inputs

STAT_FIELDS = ("selected", "fetched_ok", "failed", "new_links", "items")


def _spans(row) -> list[tuple]:
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row["spans"]]


def _stats_bad(stats, want: dict[int, tuple]) -> set[int]:
    return {
        s.round for s in stats
        if tuple(getattr(s, f) for f in STAT_FIELDS) != want.get(s.round, (0,) * len(STAT_FIELDS))
    }


def polite(crawl, fx, seeds) -> set[int]:
    """Order, seen set, span sequences and round counts equal
    ``run_oracle`` run from the same seeds for the same number of rounds
    (measured rounds are resumes, so this checks the resumed state too)."""
    store = crawl.eng.store
    last = store.latest_round()
    o = run_oracle(
        seeds, fx.web_graph, fx.tasks, fx.rules, fx.robots, fx.round_s,
        max_rounds=last,
    )
    bad: set[int] = set()

    got_order: dict[int, list] = {}
    for r in (
        store.read_through("order", last)
        .orderBy("round", F.desc("priority"), "seq")
        .select("curl", "round")
        .collect()
    ):
        got_order.setdefault(r["round"], []).append(r["curl"])
    want_order: dict[int, list] = {}
    for _, curl, rnd in o.order:
        want_order.setdefault(rnd, []).append(curl)
    bad |= {
        r for r in set(got_order) | set(want_order)
        if got_order.get(r) != want_order.get(r)
    }

    seen = {r["key"] for r in store.read_through("seen", last).select("key").collect()}
    if seen != o.seen:
        bad.add(last)

    fetched_round = {curl: rnd for _, curl, rnd in o.order}
    want_docs = dict(o.documents)
    got_docs = {}
    for r in store.read_through("documents", last).collect():
        got_docs[r["doc_id"]] = (_spans(r), r["round"])
    for doc in set(want_docs) | set(got_docs):
        got = got_docs.get(doc)
        if got is None or got[0] != want_docs.get(doc):
            bad.add(got[1] if got else fetched_round.get(doc, last))

    want_stats: dict[int, list] = {}
    for m in o.metrics:
        acc = want_stats.setdefault(m["round"], [0] * len(STAT_FIELDS))
        for i, f in enumerate(STAT_FIELDS):
            acc[i] += m[f]
    bad |= _stats_bad(crawl.stats, {r: tuple(v) for r, v in want_stats.items()})
    return bad


def steady(crawl, seed: int, task, detail_rule, sample_every: int = 97) -> set[int]:
    """Round counts derived from the generator's hazard rule, the waves'
    seq ranges, the exact seen set, and oracle span sequences on every
    ``sample_every``-th fetched page.

    With one priority and a frontier far larger than the measured rounds'
    consumption, each round pops the next ``budget`` seqs in order (the
    budget follows the task's token-bucket arithmetic): retries are
    appended behind the whole frontier and the detail pages emit no links.
    Seqs past the rendered corpus are 404s, i.e. failed fetches.
    """
    off = inputs.steady_offset(seed)
    n_pages = inputs.STEADY_WAVE * inputs.STEADY_CORPUS_ROUNDS
    store = crawl.eng.store
    last = store.latest_round()
    bad: set[int] = set()

    def page(seq):
        return inputs.book_page(off + seq) if seq < n_pages else None

    carries = [initial_carry(t) for t in task.limits]
    want_stats, want_waves, ok_seqs, pos = {}, {}, [], 0
    for r in range(1, last + 1):
        take = task_budget(carries, list(task.limits), 60)
        carries = [tier_carry_after(c, t, 60, take) for c, t in zip(carries, task.limits)]
        ok = [s for s in range(pos, pos + take) if (p := page(s)) and inputs.page_ok(p)]
        want_waves[r] = (take, take, pos, pos + take - 1)
        want_stats[r] = (take, len(ok), take - len(ok), 0, len(ok))
        ok_seqs += ok
        pos += take
    bad |= _stats_bad(crawl.stats, want_stats)

    for r in (
        store.read_through("order", last)
        .groupBy("round")
        .agg(
            F.count("*").alias("n"), F.countDistinct("seq").alias("nd"),
            F.min("seq").alias("lo"), F.max("seq").alias("hi"),
        )
        .collect()
    ):
        if (r["n"], r["nd"], r["lo"], r["hi"]) != want_waves.get(r["round"]):
            bad.add(r["round"])

    want_seen = {seen_key(inputs.book_url(off + s)) for s in ok_seqs}
    seen = {r["key"] for r in store.read_through("seen", last).select("key").collect()}
    if seen != want_seen:
        bad.add(last)

    sample = {inputs.book_url(off + s): s for s in ok_seqs[::sample_every]}
    got = {
        r["doc_id"]: (_spans(r), r["round"])
        for r in store.read_through("documents", last)
        .filter(F.col("doc_id").isin(list(sample)))
        .collect()
    }
    for url, s in sample.items():
        want = [tuple(x) for x in extract_spans(page(s)["body"], detail_rule)]
        if url not in got or got[url][0] != want:
            bad.add(got[url][1] if url in got else last)
    return bad

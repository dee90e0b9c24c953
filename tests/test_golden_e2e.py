"""Golden E2E: Spark engine == pure-Python oracle, byte-for-byte.

The north_rule correctness gates (BASELINE.md): crawl ordering, final
URL-seen set, and per-document span sequences (kind, text, media_ref, order)
must match the reference-semantics oracle exactly under the same seed list
and politeness budget.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawler_spark.engine import run_crawl
from crawler_spark.fixtures import make_fixture, write_fixture
from crawler_spark.oracle import run_oracle


@pytest.fixture(scope="module")
def crawl(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("golden")
    fx = make_fixture()
    write_fixture(fx, str(d / "fx"), spark)
    oracle = run_oracle(fx.seeds, fx.web_graph, fx.tasks, fx.rules, fx.robots, fx.round_s)
    eng = run_crawl(
        spark,
        str(d / "fx"),
        str(d / "state"),
        fx.tasks,
        fx.rules,
        fx.robots,
        fx.round_s,
    )
    return fx, oracle, eng


def test_crawl_order_matches(crawl):
    _, oracle, eng = crawl
    rnd = eng.store.latest_round()
    got = (
        eng.store.read_through("order", rnd)
        .orderBy("round", F.desc("priority"), "seq")
        .select("curl", "round")
        .collect()
    )
    got_order = [(r["curl"], r["round"]) for r in got]
    want_order = [(u, rd) for _, u, rd in oracle.order]
    assert got_order == want_order


def test_seen_set_matches(crawl):
    _, oracle, eng = crawl
    rnd = eng.store.latest_round()
    got = {r["key"] for r in eng.store.read_through("seen", rnd).select("key").collect()}
    assert got == oracle.seen


def test_documents_span_sequences_match(crawl):
    _, oracle, eng = crawl
    rnd = eng.store.latest_round()
    rows = eng.store.read_through("documents", rnd).collect()
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in rows
    }
    want = {doc_id: spans for doc_id, spans in oracle.documents}
    assert len(rows) == len(oracle.documents)  # no dup doc_ids expected here
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == want[k], f"span mismatch for {k}"


def test_items_match(crawl):
    _, oracle, eng = crawl
    rnd = eng.store.latest_round()
    rows = eng.store.read_through("results", rnd).collect()
    got = sorted(
        (r["task"], r["rule"], r["url"], r["round"], tuple(sorted((r["data"] or {}).items())))
        for r in rows
    )
    want = sorted(
        (x["task"], x["rule"], x["url"], x["round"], tuple(sorted(x["data"].items())))
        for x in oracle.results
    )
    assert got == want


def test_metrics_match(crawl):
    _, oracle, eng = crawl
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


def test_permanent_failures_match(crawl):
    _, oracle, eng = crawl
    rnd = eng.store.latest_round()
    rows = eng.store.read_through("failures", rnd).collect()
    got = sorted((r["key"], r["url"]) for r in rows)
    assert got == sorted(oracle.failures)

"""The benchmark's workloads: closed loops of resumed engine rounds.

Both workloads follow one shape. Set-up starts the session, generates the
seed's inputs, builds an engine and writes round 0. steady_delta's set-up
then runs round 1 (the warm-up): it compiles the round's code paths in the
JVM, starts the Python workers, and gives the measured rounds a non-empty
seen set, so the seen anti-join and the Bloom probe run in them.

The measured window runs one round at a time, each only after the previous
one committed, until ``--seconds`` have passed and at least the workload's
``min_rounds`` have committed. Every measured round is a resume: a fresh
``CrawlEngine`` built on the state dir (compaction recovery, Bloom full
build, read-back of every delta; the round's new keys are then ORed into
the filter) runs it, and its time from construction to commit is one
``resume_s`` sample. ``resume_s`` and ``round_s_p50`` are medians over
the window's rounds, ``urls_per_s`` is taken over the whole window.
After the window the committed state is checked against the oracle.

polite_crawl has no warm-up round and measures two rounds instead: its
rounds are the smallest and their walls the noisiest (one cold round per
run spread by up to a quarter over ten seeds on a shared 4-core host), and
a run has to end in a little over a minute. Its first measured round is
the process's first, JIT compilation included, over an empty seen set; the
second resumes over the first's seen set, so the anti-join, the Bloom probe
and a non-empty Bloom full build run in it.
"""

from __future__ import annotations

import os
import sys
import time
from statistics import median

from perfbench import checks, inputs
from perfbench.harness import Run, dir_bytes


class Crawl:
    """One crawl's engine factory, state dir and round log."""

    def __init__(self, run: Run, state_dir: str, make_engine, frontier_df):
        self.run = run
        self.state_dir = state_dir
        self.make_engine = make_engine
        self.eng = make_engine(state_dir)
        self.eng.init_state(frontier_df)
        self.stats = []  # RoundStats of every committed round
        self.frontier_rows = []  # frontier rows before each round
        self.cpu_s = []  # CPU seconds of the process tree per round

    def step(self) -> float:
        """Run the next round on a fresh engine (a resume); return its time
        from engine construction to commit."""
        t0, c0 = time.time(), self.run.cpu_s()
        self.eng = self.make_engine(self.state_dir)
        st, before = self.run.round(self.eng)
        self.stats.append(st)
        self.cpu_s.append(self.run.cpu_s() - c0)
        self.frontier_rows.append(sum((before.get("frontier_counts") or {}).values()))
        return time.time() - t0

    @property
    def done(self) -> bool:
        rnd = self.eng.store.latest_round()
        return bool(self.eng.store.manifest(rnd).get("done"))


def run_workload(run: Run, crawl: Crawl, check, warmup: bool, min_rounds: int) -> dict:
    """Warm up if asked, measure rounds for ``--seconds`` (``min_rounds`` at
    least), check, report."""
    run.info["init_s"] = time.time() - run.t_start - run.session_start_s
    if warmup:
        run.info["warmup_round_s"] = crawl.step()
    run.info["setup_cpu_s"] = run.cpu_s()
    setup_s = time.time() - run.t_start
    t0 = time.time()
    resumes = []
    while not crawl.done and (
        len(resumes) < min_rounds or time.time() - t0 < run.args.seconds
    ):
        resumes.append(crawl.step())
    window = time.time() - t0
    first = 1 if warmup else 0  # index of the first measured round
    m_stats = crawl.stats[first:]
    urls_per_s = sum(s.selected for s in m_stats) / window
    peak_rss = run.peak_rss_mb()
    state_bytes = dir_bytes(crawl.state_dir)
    fetched = sum(s.selected for s in crawl.stats)
    bad_rounds = len(check(crawl))
    round_s = median([s.wall_s for s in m_stats])
    resume_s = median(resumes)
    round_cpu_s = median(crawl.cpu_s[first:])
    info = {
        **run.info,
        "round_cpu_s": round_cpu_s,
        "session_start_s": run.session_start_s,
        "measured_rounds": len(m_stats),
        "window_s": window,
        "round_walls_s": [s.wall_s for s in m_stats],
        "resumes_s": resumes,
    }
    run.stop()
    metrics = {
        "urls_per_s": (urls_per_s, "1/s"),
        "round_s_p50": (round_s, "s"),
        "resume_s": (resume_s, "s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (peak_rss, "MB"),
        "state_bytes_per_url": (state_bytes / max(1, fetched), "B"),
    }
    if run.tracer:
        speed = {"urls_per_s": urls_per_s, "round_s_p50": round_s,
                 "round_cpu_s": round_cpu_s, "resume_s": resume_s}
        metrics = run.layer_metrics(m_stats, crawl.frontier_rows[first:], speed)
    return {
        "correct": bad_rounds == 0,
        "attempted": len(crawl.stats),
        "failed": bad_rounds,
        "metrics": metrics,
        "info": info,
        "urls_per_s": urls_per_s,
    }


# -- polite_crawl -----------------------------------------------------------


def polite_crawl(run: Run) -> dict:
    """The golden fixture's crawl from the frontier it holds after two
    rounds: snapshot frontier, Bloom forced on, pages fetched by HttpFetcher
    (urllib, through a proxy) from the benchmark's HTTP server process."""
    from crawler_spark import schemas
    from crawler_spark.engine import CrawlEngine
    from crawler_spark.operators.fetch import HttpFetcher

    seed = run.args.seed
    server = run.spawn([
        sys.executable, os.path.join(os.path.dirname(__file__), "httpweb.py"),
        "--seed", str(seed), "--threads", str(run.cpus),
    ])
    spark = run.start_session()
    fx = inputs.polite_fixture(seed)
    seeds = inputs.polite_seeds(fx)
    port = int(server.stdout.readline().split()[1])
    # one request in flight per Spark task: at most nproc in total
    fetcher = HttpFetcher(
        timeout_s=30.0, proxies=(f"http://127.0.0.1:{port}",), max_pool=1
    )

    def make_engine(state_dir):
        return CrawlEngine(
            spark, state_dir, fetcher, fx.tasks, fx.rules, fx.robots,
            fx.round_s, bloom_min_seen=0,
        )

    crawl = Crawl(
        run, os.path.join(run.run_dir, "state"), make_engine,
        spark.createDataFrame(seeds, schemas.FRONTIER),
    )
    return run_workload(
        run, crawl, lambda c: checks.polite(c, fx, seeds), warmup=False,
        min_rounds=2,
    )


# -- steady_delta -----------------------------------------------------------


def steady_delta(run: Run) -> dict:
    """Budget-bound delta-frontier rounds over a frontier far larger than the
    wave, Bloom on; pages served by GraphFetcher from a corpus rendered and
    cached during set-up."""
    from crawler_spark.engine import CrawlEngine
    from crawler_spark.operators.fetch import GraphFetcher

    seed = run.args.seed
    spark = run.start_session()
    tasks, rules, robots = inputs.steady_tasks_rules_robots()
    fetcher = GraphFetcher(inputs.steady_corpus(spark, seed))
    fetcher.graph.count()  # canonicalize and cache the corpus outside the window

    def make_engine(state_dir):
        return CrawlEngine(
            spark, state_dir, fetcher, tasks, rules, robots, 60,
            bloom_min_seen=0, frontier_mode="delta",
            frontier_bucket_rows=inputs.STEADY_BUCKET_ROWS,
        )

    crawl = Crawl(
        run, os.path.join(run.run_dir, "state"), make_engine,
        inputs.steady_frontier(spark, seed, run.cpus),
    )
    book = next(t for t in tasks if t.name == "book_task")
    detail = next(r for r in rules if r.rule == "detail")
    return run_workload(
        run, crawl, lambda c: checks.steady(c, seed, book, detail), warmup=True,
        min_rounds=1,
    )


WORKLOADS = {"polite_crawl": polite_crawl, "steady_delta": steady_delta}

"""Seeded inputs for the crawl-engine benchmark.

Every input is a pure function of the workload seed, so the same seed gives
the same bytes in every process (the HTTP web server regenerates the polite
fixture itself instead of receiving it). The engine only ever sees these
generated inputs.
"""

from __future__ import annotations

from crawler_spark.fixtures import BOOKS, MEDIA, _filler, _h, _page, make_fixture
from crawler_spark.fixtures_big import bench_tasks_rules_robots
from crawler_spark.oracle import run_oracle
from crawler_spark.textcore import MIN_BODY_LEN

# -- polite_crawl -----------------------------------------------------------


def polite_fixture(seed: int):
    """The golden fixture scaled so a crawl runs ~10 politeness-bound rounds.

    The seed picks the shape inside a narrow band (topic count, books per
    list), so every seed has the same round structure: the groups host's
    5 s crawl delay caps it at 12 fetches per 60 s round and the book task's
    tiered budget at 20.
    """
    return make_fixture(
        n_tags=3,
        lists_per_tag=3,
        books_per_list=7 + seed % 3,
        n_topics=96 + seed % 17,
    )


def polite_seeds(fx, rounds: int = 2) -> list[dict]:
    """The frontier the fixture's crawl holds after its first ``rounds``
    rounds (roots and tag lists fetched), seq-stamped by the oracle: book
    detail pages, topics and retries. Crawling from it makes round 1 a
    budget- and politeness-bound round like the crawl's middle ones."""
    out: list[dict] = []

    def keep(rnd, ctl):
        out[:] = [dict(r) for r in ctl.frontier]

    run_oracle(
        fx.seeds, fx.web_graph, fx.tasks, fx.rules, fx.robots, fx.round_s,
        max_rounds=rounds, on_round=keep,
    )
    return out


# -- steady_delta -----------------------------------------------------------

STEADY_FRONTIER = 50_000  # rows in the delta frontier at round 0
STEADY_WAVE = 500  # per-round task budget: every round is budget-bound
STEADY_BUCKET_ROWS = 8_192  # frontier base partitions the pruned pop skips
STEADY_CORPUS_ROUNDS = 4  # waves of pages rendered; later ids answer 404
STEADY_PAD = 6_200


def steady_offset(seed: int) -> int:
    """First book id of the seed's id window."""
    return 1_000_000 * (seed % 997)


def steady_tasks_rules_robots():
    """The bench rule set with a one-tier budget of exactly one wave."""
    return bench_tasks_rules_robots(task_budget_per_round=STEADY_WAVE)


def book_url(i: int) -> str:
    return f"{BOOKS}/book/{i}"


def book_page(i: int) -> dict:
    """Detail page of book ``i``; its hazard class (5xx, short body) comes
    from the fixture generator's md5 rule on the URL."""
    author = f"Author {_h('a' + str(i)) % 500}"
    npages = 100 + _h("p" + str(i)) % 900
    price = f"{10 + _h('$' + str(i)) % 90}.{_h('c' + str(i)) % 100:02d}"
    body = (
        f"<h1>Book {i}</h1>\n"
        f'<meta name="author" content="{author}">\n'
        f'<img src="{MEDIA}/cover{i}.jpg"/>\n'
        f"<span>pages: {npages}</span>\n"
        f"<span>price: ¥{price}</span>\n"
        + _filler("bookbody" + str(i), STEADY_PAD // 2)
        + f'\n<img src="{MEDIA}/sample{i}.png"/>\n'
    )
    return _page(book_url(i), body, pad_to=STEADY_PAD)


def page_ok(p: dict) -> bool:
    return p["status"] == 200 and len(p["body"]) >= MIN_BODY_LEN


def steady_frontier(spark, seed: int, parallelism: int):
    """``fat_frontier``-shaped frontier over the seed's id window:
    all depth-0 detail URLs at one priority, seq = position in the window."""
    off = steady_offset(seed)
    url = f"concat('{BOOKS}/book/', id + {off})"
    return (
        spark.range(STEADY_FRONTIER, numPartitions=parallelism)
        .selectExpr(
            f"{url} AS url",
            f"{url} AS curl",
            "'books.example.com' AS host",
            "'GET' AS method",
            f"md5(concat({url}, 'GET')) AS key",
            "'book_task' AS task",
            "'detail' AS rule",
            "CAST(0 AS INT) AS depth",
            "CAST(100 AS INT) AS priority",
            "id AS seq",
            "CAST(0 AS INT) AS attempt",
            "CAST(map() AS map<string,string>) AS tmp",
        )
    )


def steady_corpus(spark, seed: int):
    """The pages the first STEADY_CORPUS_ROUNDS waves can pop, rendered on
    the driver (a few MB) and shipped to Spark through Arrow."""
    import pandas as pd

    from crawler_spark import schemas

    off = steady_offset(seed)
    names = [f.name for f in schemas.WEB_GRAPH.fields]
    n = STEADY_WAVE * STEADY_CORPUS_ROUNDS
    pdf = pd.DataFrame([book_page(i + off) for i in range(n)], columns=names)
    return spark.createDataFrame(pdf, schemas.WEB_GRAPH)

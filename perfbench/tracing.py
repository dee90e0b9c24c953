"""In-memory spans around the crawl engine's calls into its layers.

``install()`` wraps, from outside the program:

- the operator functions ``crawler_spark.engine`` imported by name (so the
  wrappers replace the names in the engine module's namespace);
- the ``SnapshotStore`` methods that write or read state eagerly;
- the fetchers' ``fetch``.

Each call records (name, start, end, round). Operators that only build a
lazy plan record plan-building time; ``build_bloom`` collects and the store
writes run their Spark jobs inside the call, so their spans are real work.
Spans stay in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import json
import threading
import time

import crawler_spark.engine as engine_mod
from crawler_spark.operators import fetch as fetch_mod
from crawler_spark.state import SnapshotStore

ENGINE_FUNCS = {
    "anti_join_seen": "dedup.anti_join_seen",
    "build_bloom": "dedup.build_bloom",
    "or_blooms": "dedup.or_blooms",
    "budgeted_topk": "topk.budgeted_topk",
    "parse_fetched": "parse.parse_fetched",
    "with_canonical": "canon.with_canonical",
    "prepare_dense_seq": "seq.prepare_dense_seq",
    "finalize_dense_seq": "seq.finalize_dense_seq",
}
STORE_METHODS = ("append", "write_frontier", "commit", "read_through")


class Tracer:
    def __init__(self):
        self.spans: list[tuple[str, float, float, int | None]] = []
        self.round: int | None = None
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def record(self, name: str, start: float, end: float) -> None:
        with self._lock:
            self.spans.append((name, start, end, self.round))

    def _wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kw):
            t0 = time.time()
            try:
                return orig(*args, **kw)
            finally:
                self.record(name, t0, time.time())

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        for attr, name in ENGINE_FUNCS.items():
            self._wrap(engine_mod, attr, name)
        for attr in STORE_METHODS:
            self._wrap(SnapshotStore, attr, f"state.{attr}")
        self._wrap(fetch_mod.HttpFetcher, "fetch", "fetch.HttpFetcher.fetch")
        self._wrap(fetch_mod.GraphFetcher, "fetch", "fetch.GraphFetcher.fetch")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def totals(self, name: str, rounds) -> tuple[int, float]:
        """(calls, seconds) of span ``name`` inside ``rounds``."""
        rounds = set(rounds)
        calls, secs = 0, 0.0
        for n, s, e, r in self.spans:
            if n == name and r in rounds:
                calls += 1
                secs += e - s
        return calls, secs

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for n, s, e, r in self.spans:
                f.write(json.dumps({"name": n, "start": s, "end": e, "round": r}) + "\n")

"""The crawl engine: deterministic batch micro-rounds over the frontier.

Implements the contract defined in oracle.py (which in turn pins the
reference's fetch-parse-store loop, engine/schedule.go:324-447, to its
disabled-jitter batch-equivalent semantics). One round:

    frontier ──expire──dedup(anti-join)──budget top-k──host cap──▶ wave
    wave ──salted repartition──fetch──validity──┬─▶ retries/failures
                                                └─▶ parse ─▶ documents/items/links
    links ──canonicalize──robots──seq──▶ frontier Δ        (next round)

Every stage is DataFrame algebra; with GraphFetcher and the JVM parse path
a round starts no Python worker (HttpFetcher's transport and the pandas
parse fallback are the Arrow-batched exceptions). The driver only moves
scalar budget state (a few ints per task) and round counters, and every
frame it builds from its own rows (tasks, robots, budgets, seq offsets,
rules, queued seeds) is an Arrow local relation
(``schemas.local_frame``) that plans as a task-free LocalTableScan.
Shuffles per round: the exact seen anti-join, the two budgeted top-k
windows (one exchange per level; the task level prunes map-side), the
host-salted repartition, and the link seq assignment (wave-bounded). All
are bounded by the wave / politeness budget except the anti-join, which
is the irreducible frontier cost (Iceberg MERGE at production scale).

Per-round driver work is kept O(|wave|), never O(|seen|):
- the seen-set size is a manifest counter, not a count() scan;
- per-task outcome counts ride the round's WRITES as Observation metrics
  (no extra jobs or scans; the one accounting job is the link/retry
  (task, pid) count that doubles as the dense-seq offset source), and the
  next-frontier size is derived arithmetically instead of re-scanning the
  written frontier.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, IntegerType, StringType, StructField, StructType

from . import schemas
from .schemas import local_frame
from .state import SnapshotStore
from .textcore import (
    Rule,
    TaskCfg,
    initial_carry,
    task_budget,
    tier_carry_after,
)
from .operators.canon import with_canonical
# imported by name (not as ``dedup.anti_join_seen``): perfbench/tracing.py
# times it by wrapping this module's attribute
from .operators.dedup import anti_join_seen
from .operators.fetch import GraphFetcher
from .operators.parse import parse_fetched
from .operators.seq import finalize_dense_seq, prepare_dense_seq
from .operators.topk import budgeted_topk


# Every Observation carries one expression per configured task, so the task
# count bounds the round's plan size. Tasks are preset parser configs
# (reference: a handful, engine/schedule.go preset task registry) —
# config-scale like rules, never data-scale.
_MAX_TASKS = 256

# the expire filter's per-task dim
_TASKS_DIM = StructType(
    [
        StructField("task", StringType()),
        StructField("reload", BooleanType()),
        StructField("max_depth", IntegerType()),
        StructField("closed", BooleanType()),
    ]
)


# Nothing calls these: the seen anti-join has no Bloom prefilter. Both names
# stay only because perfbench/tracing.py wraps them on this module by name;
# drop them together with the tracer's entries.
def build_bloom(*_args, **_kw):
    raise NotImplementedError("the seen anti-join has no Bloom prefilter")


or_blooms = build_bloom


def _observed(obs: Observation) -> dict:
    """An Observation's metrics after its job ran; ``{}`` (every count 0)
    when the plan dropped it. The optimizer, or AQE once a stage came back
    empty, replaces a join with an empty input by an empty relation, and an
    Observation under that join goes with it (``Observation.get`` then
    fails on the missing row). Both fetchers keep every wave row
    (GraphFetcher left-joins the wave), so under the fused round's fetch
    join that happens only when the wave itself is empty."""
    if obs._jo.getRow().length() == 0:
        return {}
    return obs.get


def _bucket_meta(bucket_rows: int, counts_rows) -> dict:
    """Manifest form of a bucketed base's partition stats: per-task
    {"<priority>:<bucket>": rows}. Bounded metadata — O(frontier /
    bucket_rows) entries, the Iceberg partition-stats analog."""
    raw: dict[str, dict[str, int]] = {}
    for r in counts_rows:
        raw.setdefault(r["task"], {})[f"{r['priority']}:{r['_pbkt']}"] = int(
            r["count"]
        )
    return {"size": int(bucket_rows), "raw": raw, "consumed": {}}


def _merge_consumed(bmeta: dict, wave_bkts) -> dict:
    """Fold a round's wave (task, priority, _pbkt) consumption counts into
    the manifest bucket metadata. Rows the wave took from frontier_add
    deltas land in buckets the base never had — their entries simply clamp
    to live 0 at selection time (adds carry strictly larger seqs than any
    base row, so those buckets are disjoint from the base's)."""
    out = {
        "size": bmeta["size"],
        "raw": bmeta["raw"],
        "consumed": {
            t: dict(d) for t, d in bmeta.get("consumed", {}).items()
        },
    }
    for r in wave_bkts:
        d = out["consumed"].setdefault(r["task"], {})
        k = f"{r['priority']}:{r['_pbkt']}"
        d[k] = d.get(k, 0) + int(r["count"])
    return out


def _select_pop_prefix(
    bmeta: dict, targets: dict[str, int]
) -> tuple[object, dict[str, bool]]:
    """Choose, per task, the pop-order PREFIX of base buckets whose live
    upper bound (raw - consumed, clamped at 0) covers ``targets[task]``
    rows, and build the partition-pruning predicate selecting exactly
    those (task, priority, _pbkt) directories.

    Pop order is (-priority, seq); within a priority, buckets ascend in
    seq, so the walk (priority desc, bucket asc) enumerates buckets in pop
    order and the chosen set is pop-order CLOSED: every unchosen base row
    of a task ranks after every chosen row of that task. Fully-consumed
    leading buckets (live upper bound 0 — exact, since `consumed` counts
    only tombstoned waves) are skipped entirely, so steady-state
    consumption advances a per-priority low-water mark and the read stays
    O(target), independent of how much of the frontier is already done.

    Returns (predicate_or_None, partial: task -> True if some live bucket
    of that task was left unchosen). predicate None means nothing was
    prunable (every live bucket chosen) — caller should read the full
    view and keep exact accounting.
    """
    consumed = bmeta.get("consumed", {})
    terms = []
    partial: dict[str, bool] = {}
    any_skipped = False
    for task, raw_t in bmeta["raw"].items():
        cons_t = consumed.get(task, {})
        by_prio: dict[int, list[tuple[int, int]]] = {}
        for pb, n in raw_t.items():
            p, b = pb.split(":")
            live = int(n) - int(cons_t.get(pb, 0))
            if live > 0:
                by_prio.setdefault(int(p), []).append((int(b), live))
            else:
                any_skipped = True
        need = int(targets.get(task, 0))
        got = 0
        task_terms = []
        left_live = False
        for p in sorted(by_prio, reverse=True):
            buckets = sorted(by_prio[p])
            if got >= need:
                left_live = True
                any_skipped = True
                break
            lo = buckets[0][0]
            hi = None
            for b, live in buckets:
                if got >= need:
                    break
                hi = b
                got += live
            if hi is not None:
                task_terms.append(
                    (F.col("priority") == p)
                    & (F.col("_pbkt") >= lo)
                    & (F.col("_pbkt") <= hi)
                )
                if hi < buckets[-1][0]:
                    left_live = True
                    any_skipped = True
        partial[task] = left_live
        if task_terms:
            t_pred = task_terms[0]
            for tt in task_terms[1:]:
                t_pred = t_pred | tt
            terms.append((F.col("task") == task) & t_pred)
    if not any_skipped:
        return None, partial
    if not terms:
        # no live base rows at all: select nothing from the base
        return F.lit(False), partial
    pred = terms[0]
    for t in terms[1:]:
        pred = pred | t
    return pred, partial


@dataclass
class RoundStats:
    round: int
    selected: int
    fetched_ok: int
    failed: int
    new_links: int
    items: int
    wall_s: float


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        fetcher,
        tasks: list[TaskCfg],
        rules: list[Rule],
        robots: list[dict],
        round_s: int = 60,
        bloom_min_seen: int = 50_000,
        typed_tables: bool = False,
        frontier_mode: str = "delta",
        frontier_compact_factor: float = 2.0,
        frontier_bucket_rows: int = 65536,
        revisit_plan=None,
    ):
        # tasks are fixed here (set_task_closed/run_task only toggle them),
        # so this one check bounds every round's Observation width
        if len(tasks) > _MAX_TASKS:
            raise ValueError(
                f"{len(tasks)} tasks configured; the engine supports at most "
                f"{_MAX_TASKS}"
            )
        # ``bloom_min_seen`` is accepted and ignored: the seen prefilter it
        # configured was removed, and perfbench still passes it.
        # ``frontier_mode`` stays for the same reason (perfbench's
        # steady_delta passes "delta", the one frontier layout left).
        if frontier_mode != "delta":
            raise ValueError(f"unknown frontier_mode {frontier_mode!r}")
        # The frontier is merge-on-read. A budget-bound round appends only
        # links/retries (frontier_add) plus the consumed seqs — wave and
        # within-round dedup losers — as tombstones (frontier_del); reads
        # assemble base ∪ adds ∖ dels. Rows dropped by idempotent filters
        # (depth, closed-task, seen-key) stay physically present until the
        # base is rewritten — the filters re-drop them each read, and a
        # seen-key can never leave the append-only seen table, so none can
        # resurface. The base rewrite (rewrite_data_files analog) triggers
        # arithmetically when raw rows exceed frontier_compact_factor x live
        # rows, and is forced by dynamic task open/close (a closed task's
        # rows must not outlive a later reopen). Budget-unbound rounds
        # consume the whole view, so their links∪retries output IS a fresh
        # tiny base. Oracle parity is pinned by tests/test_frontier_delta.py.
        self.frontier_compact_factor = float(frontier_compact_factor)
        # ``frontier_bucket_rows``: bases are written partitioned by (task,
        # priority, seq div bucket_rows) — the pop sort key — so a
        # budget-bound round partition-prunes its base read to the pop-order
        # PREFIX covering the wave (O(wave) read, not O(frontier); see the
        # pruned-pop block in _run_round).
        if int(frontier_bucket_rows) < 1:
            raise ValueError(
                f"frontier_bucket_rows must be >= 1, got {frontier_bucket_rows}"
            )
        self.frontier_bucket_rows = int(frontier_bucket_rows)
        self._force_frontier_compact = False
        self._last_prune: dict | None = None
        self.spark = spark
        self.store = SnapshotStore(spark, state_dir)
        self.fetcher = fetcher
        self.tasks = {t.name: t for t in tasks}
        self.rules = rules
        self.robots = robots
        self.round_s = round_s
        # per-task typed result tables (sqlstorage.go:43-61 table-per-task
        # from ItemFields): a derived projection of the map-typed results
        # envelope, written under typed/<task>__<rule>/round=N. Off by
        # default — a deployment materializes EITHER the envelope or the
        # typed tables (the reference only has the latter); the projection
        # operator itself (operators/typed_results.py) works on the results
        # table at any time, so the view is never lost by leaving this off.
        self.typed_tables = typed_tables
        # per-host round caps as a DATAFRAME derived from the robots table
        # (never a driver dict / CASE chain: at 10^7+ hosts the budget side
        # must stay distributed; topk joins it onto the host-ranked wave)
        self._host_budgets = local_frame(spark, robots, schemas.ROBOTS).select(
            "host",
            F.when(F.col("crawl_delay_ms") <= 0, F.lit(1 << 40))
            .otherwise(F.floor(F.lit(round_s * 1000) / F.col("crawl_delay_ms")))
            .cast("long")
            .alias("_budget"),
        )
        # ``revisit_plan``: optional (host, fetches_per_day) capacity plan
        # (pipeline/frontier.py revisit_bandwidth's output shape). When
        # given, the effective per-host round budget is the elementwise
        # MIN of the politeness budget and the plan's prorated daily
        # capacity — politeness is the hard protocol bound, the revisit
        # plan the evidence-based efficiency bound (don't refetch pages
        # faster than they change; Cho & Garcia-Molina). Reference analog:
        # limiter/limiter.go:11-45 budget table gating the wave.
        if revisit_plan is not None:
            from .pipeline.frontier import revisit_budget_per_round

            rb = revisit_budget_per_round(revisit_plan, round_s)
            self._host_budgets = (
                self._host_budgets.withColumnRenamed("_budget", "_pb")
                .join(rb.withColumnRenamed("_budget", "_rb"), "host", "full_outer")
                .select(
                    "host",
                    F.least(
                        F.coalesce("_pb", F.lit(1 << 40)),
                        F.coalesce("_rb", F.lit(1 << 40)),
                    )
                    .cast("long")
                    .alias("_budget"),
                )
            )
        # host caps only bind when some host declares a positive crawl
        # delay OR a revisit plan is installed; with neither, the
        # host-level topk is provably the identity — skip its window
        # exchange per round. Config-scale check (robots is a
        # config list here; at production scale the flag is a catalog
        # property of the robots table, not a scan).
        self._hostcap_active = revisit_plan is not None or any(
            int(r.get("crawl_delay_ms", 0) or 0) > 0 for r in robots
        )
        self.shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        # tiny dims, broadcast once (rebuilt on dynamic task open/close)
        self._rebuild_tasks_df()
        # seeds queued by run_task, seq-stamped at next round start
        self._pending_seeds: list[dict] = []
        self._robots_df = F.broadcast(
            local_frame(spark, robots, schemas.ROBOTS).withColumnRenamed(
                "host", "rhost"
            )
        )

    def _labeled(self, rnd: int, what: str, fn, *args, **kw):
        """Run ``fn`` with the round's job description set on the CALLING
        thread — setJobDescription is thread-local, so write jobs submitted
        through the round's thread pool would otherwise show unlabeled in
        the Spark UI / event logs (which is exactly where per-stage scaling
        profiles are read from)."""
        self.spark.sparkContext.setJobDescription(f"r{rnd}:{what}")
        return fn(*args, **kw)

    def _desc(self, rnd: int, what: str) -> None:
        """Label the next Spark jobs (shows up in UI + event logs)."""
        self.spark.sparkContext.setJobDescription(f"r{rnd}:{what}")

    def _seq_parts(self, n_rows: int) -> int:
        """Bucket count for a dense-seq shuffle sized to the KNOWN row
        count (from this round's Observations): ~50k rows/bucket, capped
        at the configured shuffle width."""
        return max(1, min(self.shuffle_parts, -(-n_rows // 50_000)))

    def _task_sums(self, kind: str, cond=None) -> list:
        """Observation expressions ``{kind}::{task}``: per configured task,
        the number of rows of that task (that also satisfy ``cond``)."""
        out = []
        for t in self.tasks:
            hit = F.col("task") == t
            if cond is not None:
                hit = hit & cond
            out.append(F.sum(F.when(hit, 1)).alias(f"{kind}::{t}"))
        return out

    def _task_counts(self, metrics: dict, kind: str) -> dict[str, int]:
        """The nonzero ``{kind}::{task}`` counts of an Observation's metrics
        (tasks without rows are left out, as in the metrics table)."""
        return {
            t: int(metrics[f"{kind}::{t}"])
            for t in self.tasks
            if metrics.get(f"{kind}::{t}")
        }

    def _scratch(self, df, rnd: int, name: str):
        """Materialize a hot round frame via a scratch-parquet roundtrip.

        This is the round's materialization barrier AND its plan cut: the
        reread frame is a flat columnar scan — prunable, splittable, and
        O(1) to analyze. The alternatives both lose: .cache() keeps the
        full expression lineage in every consumer's LOGICAL plan, and the
        CacheManager re-canonicalizes that tree per referencing job for
        cache matching (measured ~4s of driver time just to PLAN one
        multi-branch job over the round's frames — a per-round constant
        that caps N->4N scaling); .localCheckpoint() cuts the plan but
        stores object rows, losing column pruning + Tungsten format
        (measured 6x slower on a 400k fat wave). At production scale these scratch frames are the
        per-round working tables next to the Iceberg frontier snapshots.
        """
        path = os.path.join(self.store.root, "scratch", f"r{rnd:05d}", name)
        df.write.mode("overwrite").parquet(path)
        # reread with the schema we just wrote: skips the driver-serial
        # footer-inference job (a per-round constant that dilutes scaling)
        return self.spark.read.schema(df.schema).parquet(path)

    def _drop_scratch(self, rnd: int) -> None:
        shutil.rmtree(
            os.path.join(self.store.root, "scratch", f"r{rnd:05d}"),
            ignore_errors=True,
        )

    def _rebuild_tasks_df(self) -> None:
        self._tasks_df = F.broadcast(
            local_frame(
                self.spark,
                [
                    (t.name, t.reload, t.max_depth, t.closed)
                    for t in self.tasks.values()
                ],
                _TASKS_DIM,
            )
        )

    # ------------------------------------------------- dynamic tasks
    # Reference: the etcd resource watch flips preset tasks at runtime —
    # deleteTasks sets Closed=true (engine/schedule.go:526-534), runTasks
    # re-opens the task and pushes its Root seeds (schedule.go:536-563).
    # Here the control plane is the driver: call these between rounds
    # (e.g. from run(on_round=...)). The closed flag takes effect at the
    # next round's expire filter, dropping the task's in-flight frontier
    # rows exactly like Request.Check.

    def set_task_closed(self, name: str, closed: bool = True) -> None:
        t = self.tasks[name]
        if t.closed == closed:
            return
        self.tasks[name] = replace(t, closed=closed)
        self._rebuild_tasks_df()
        # the merge-on-read view keeps filter-dropped rows physically; a
        # task-closed change makes those drops non-idempotent (a reopened
        # task must not resurrect rows the oracle removed for good), so the
        # next round folds the view into a fresh base
        self._force_frontier_compact = True

    def run_task(self, name: str, seed_rows: list[dict]) -> None:
        """Open a preset task and queue its Root seeds (runTasks analog).

        ``seed_rows``: FRONTIER-shaped dicts; ``seq``/``attempt`` are
        stamped at the start of the next round (after the previous round's
        links/retries), matching push-after-current-work queue arrival.
        The queue is in-memory, as is the reference's scheduler queue —
        on crash+resume the watch/loadResource layer re-issues runTasks
        (engine/schedule.go:500-523), i.e. the caller re-calls this.
        """
        self.set_task_closed(name, False)
        self._pending_seeds.extend(dict(r) for r in seed_rows)

    # ------------------------------------------------------------------ init

    def init_state(self, seeds: DataFrame) -> None:
        """Round-0 base. Seeds must be FRONTIER-shaped."""
        census = self.store.write_frontier(0, seeds, self.frontier_bucket_rows)
        self.store.append_local("seen", 0, [], schemas.SEEN)
        self.store.append_local("failed_once", 0, [], schemas.FAILED_ONCE)
        bmeta = _bucket_meta(self.frontier_bucket_rows, census)
        per_task = {t: sum(d.values()) for t, d in bmeta["raw"].items()}
        max_seq = max((r["max_seq"] for r in census), default=None)
        # one-time global probe: a key-unique, reload-free seed set lets
        # round 1 skip the within-round dedup shuffle outright (the min_by
        # groupBy is provably the identity); the flag then propagates
        # round-to-round while the proof holds (see _run_round)
        u = seeds.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("key").alias("nd"),
        ).collect()[0]
        # key-uniqueness alone proves dedup-identity: reload rows bypass
        # the min_by anyway, and with no duplicate key the reload/non-
        # reload split-and-union reassembles the input exactly
        frontier_unique = bool(u["n"] == u["nd"])
        self.store.commit(
            0,
            {
                "round": 0,
                "max_seq": int(max_seq if max_seq is not None else -1),
                "fetch_count": 0,
                "seen_count": 0,
                "frontier_round": 0,
                "carries": {
                    t.name: [initial_carry(tier) for tier in t.limits]
                    for t in self.tasks.values()
                },
                "frontier_counts": per_task,
                "frontier_unique": frontier_unique,
                "failed_once_count": 0,
                "done": False,
                "frontier_base": 0,
                "frontier_raw": sum(per_task.values()),
                "frontier_buckets": bmeta,
            },
        )

    # ------------------------------------------------------------------ round

    def run(self, max_rounds: int = 10_000, on_round=None) -> list[RoundStats]:
        """Run until frontier exhaustion or max_rounds; resumes automatically."""
        rnd = self.store.latest_round()
        if rnd is None:
            raise RuntimeError("call init_state(seeds) first")
        # resume point: replay/roll back any compaction a crash interrupted
        # so the read-through view is never a mix of pre/post states
        self.store.recover_compactions()
        stats: list[RoundStats] = []
        man = self.store.manifest(rnd)
        while not man.get("done") and len(stats) < max_rounds:
            man = self._run_round(rnd + 1, man)
            rnd += 1
            s = RoundStats(**man["stats"]) if man.get("stats") else None
            if s:
                stats.append(s)
            if on_round:
                on_round(man)
        return stats

    def _run_round(self, rnd: int, man: dict) -> dict:
        t0 = time.time()
        spark = self.spark
        prev = rnd - 1
        # sweep torn leftovers of a crashed prior attempt at this round:
        # the re-run may legitimately skip gated empty-delta writes, so any
        # stale uncommitted round=rnd directory must go BEFORE we decide
        # what to write, or read_through would see it forever
        self.store.clean_round(rnd)
        self._drop_scratch(rnd)
        fr_round = man["frontier_round"]
        fr_base = man["frontier_base"]
        # lazy GC of deltas folded into the committed base (safe only AFTER
        # the base's manifest committed, hence at round start)
        self.store.drop_frontier_deltas(fr_base)
        frontier = self.store.read_frontier_view(fr_base, fr_round)
        seen = self.store.read_through("seen", prev)
        if seen is None:
            seen = local_frame(spark, [], schemas.SEEN)
        failed_once = self.store.read_through("failed_once", prev)
        carries = {k: list(v) for k, v in man["carries"].items()}
        max_seq = man["max_seq"]
        # provable identity of the within-round dedup: the frontier this
        # round reads was built key-unique and reload-free (init_state
        # probe, or deferred∪retries of a unique wave with no new links —
        # all disjoint subsets of an already-deduped candidate set)
        frontier_unique = bool(man.get("frontier_unique"))
        n_failed_once = man["failed_once_count"]

        # dynamic seeds queued by run_task: seq-stamped here, AFTER the
        # previous round's links/retries (manifest max_seq), so queue
        # arrival order matches the oracle's end-of-round push
        pending_counts: dict[str, int] = {}
        stamped_seed_rows: list[dict] = []
        if self._pending_seeds:
            rows = []
            for i, r in enumerate(self._pending_seeds):
                rr = dict(r)
                rr["seq"] = max_seq + 1 + i
                rr.setdefault("attempt", 0)
                rows.append(rr)
                pending_counts[rr["task"]] = pending_counts.get(rr["task"], 0) + 1
            max_seq += len(rows)
            self._pending_seeds = []
            # these rows exist only in this in-memory union — a delta round
            # must persist them as frontier_add (waved/lost ones are
            # simultaneously tombstoned, which nets out exactly)
            stamped_seed_rows = rows
            frontier = frontier.unionByName(
                local_frame(spark, rows, schemas.FRONTIER)
            )
            # queued seeds may collide with frontier keys (or carry reload)
            frontier_unique = False

        # budgets are known BEFORE any job runs (pure carry arithmetic)
        budgets = {
            name: task_budget(carries[name], list(t.limits), self.round_s)
            for name, t in self.tasks.items()
        }
        # FUSED identity round: the manifest's per-task frontier counts
        # (known arithmetically when the frontier was built) prove every
        # task's candidate set fits its budget — expire/dedup only ever
        # SHRINK a task's rows — and no host cap is active, so the budgeted
        # top-k is provably the identity. The candidate plan then flows
        # STRAIGHT into the fetch join with no scratch materialization and
        # no pre-fetch barrier: one job covers expire -> dedup -> fetch ->
        # parse -> parsed-delta write, and all round counts ride its
        # Observations. This is the steady-state fat-wave shape (a 10^10-URL
        # frontier round is budget-unbound most rounds).
        fcounts_prev = man["frontier_counts"]
        fused = (
            not self._hostcap_active
            and all(
                n + pending_counts.get(t, 0) <= budgets.get(t, 1 << 40)
                for t, n in fcounts_prev.items()
            )
            and all(
                n <= budgets.get(t, 1 << 40)
                for t, n in pending_counts.items()
            )
        )

        # seen-dedup inputs, needed by the candidate filters below AND the
        # pruned-pop widening loop. Seen size is a manifest counter
        # (appended rows), never a table scan.
        n_seen = man["seen_count"]

        def _cand_filters(fr: DataFrame) -> DataFrame:
            # 1. expire (Request.Check semantics)
            c = (
                fr.join(self._tasks_df, "task")
                .filter(
                    (F.col("depth") <= F.col("max_depth")) & ~F.col("closed")
                )
                .drop("max_depth", "closed")
            )
            # 2. seen dedup: exact anti-join; reload bypasses. n_seen == 0 (manifest counter) proves the anti-join
            # is the identity — skip its shuffle and job entirely.
            # Exactness: seen is append-only and the counter counts
            # appended rows, so 0 ⇒ no key can match.
            if n_seen != 0:
                non_reload = c.filter(~F.col("reload"))
                reload_rows = c.filter(F.col("reload"))
                fresh = anti_join_seen(non_reload, seen, "key")
                c = fresh.unionByName(reload_rows)
            return c

        # ---- pruned pop: read only the pop-order PREFIX of the
        # bucketed base that covers this round's budgets, instead of
        # scanning O(frontier). Exactness: the chosen bucket set is
        # pop-order closed per task (_select_pop_prefix), so once the
        # prefix holds >= budget wave-ELIGIBLE base rows for a task (or
        # covers all its live buckets), the budgeted top-k over
        # prefix ∪ adds equals the top-k over the full view — any unread
        # base row ranks after >= budget included base rows. Eligibility
        # shortfalls (rows the expire/seen filters drop — e.g. compacted-in
        # links to since-crawled pages) are handled by a measure-and-widen
        # loop: count survivors on the base prefix (adds excluded — they
        # cannot substitute in the pop order), widen any short task, redo.
        # Gates: frontier_unique (no cross-row dedup => candidate filters
        # are row-local), no queued seeds, and no host cap (host budgets
        # are not task-prefix-coverable).
        self._last_prune = None
        pruned_partial = False
        bmeta = man["frontier_buckets"]
        if (
            not fused
            and frontier_unique
            and not stamped_seed_rows
            and not self._hostcap_active
        ):
            targets = {
                t: max(2 * min(budgets.get(t, 0), 1 << 40), 1)
                for t in self.tasks
            }
            widen_rounds = 0
            while True:
                pred, partial = _select_pop_prefix(bmeta, targets)
                if pred is None or not any(partial.values()):
                    # nothing left unread (or no live base rows): the full
                    # view is already O(live) — keep exact accounting
                    break
                self._desc(rnd, "pruned-pop-count")
                base_live = self.store.read_frontier_base_live(
                    fr_base, fr_round, base_filter=pred
                )
                cnts = {
                    r["task"]: r["n"]
                    for r in _cand_filters(base_live)
                    .groupBy("task")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                }
                short = [
                    t
                    for t, is_partial in partial.items()
                    if is_partial
                    and cnts.get(t, 0) < min(budgets.get(t, 0), 1 << 40)
                ]
                if not short:
                    frontier = self.store.read_frontier_view(
                        fr_base, fr_round, base_filter=pred
                    )
                    pruned_partial = True
                    self._last_prune = {
                        "targets": dict(targets),
                        "widen_rounds": widen_rounds,
                        "survivors": cnts,
                    }
                    break
                widen_rounds += 1
                for t in short:
                    targets[t] *= 4

        cand = _cand_filters(frontier)

        # within-round duplicate keys: first by (-priority, seq) wins
        # (reference: first pop marks visited, later pops skip —
        #  engine/schedule.go:343-351). Reload rows are exempt: every
        #  discovery refetches. When the manifest proves the frontier
        #  key-unique and reload-free, the min_by groupBy is the identity —
        #  skip its shuffle (the only pre-fetch exchange of a fused round).
        non_reload2 = cand.filter(~F.col("reload"))
        if frontier_unique:
            deduped = cand.select(
                "key", *[c for c in cand.columns if c != "key"]
            )
        else:
            # a staged round also needs the dedup LOSERS (same-key,
            # non-winning rows): the reference contract drops them forever
            # at this round (visited marked by the winner's pop), so the
            # merge-on-read view must tombstone them — otherwise a loser
            # would resurface and out-rank the winner's retry if the winner
            # fails. collect_list rides the SAME single shuffle/aggregate;
            # the loser-seq array column travels inside the existing cand
            # scratch and is read back from it — zero extra jobs. A fused
            # round waves every candidate, so it never takes a delta round.
            want_losers = not fused
            aggs = [
                F.min_by(
                    F.struct(*[c for c in non_reload2.columns if c != "key"]),
                    F.struct((-F.col("priority")).alias("p"), F.col("seq").alias("s")),
                ).alias("r")
            ]
            if want_losers:
                aggs.append(F.collect_list("seq").alias("_seqs"))
            deduped = non_reload2.groupBy("key").agg(*aggs)
            if want_losers:
                deduped = deduped.select(
                    "key",
                    "r",
                    F.filter(
                        F.col("_seqs"), lambda s: s != F.col("r.seq")
                    ).alias("_lseqs"),
                ).select("key", "r.*", "_lseqs")
            else:
                deduped = deduped.select("key", "r.*")
        # Per-task round counts ride the round's WRITE jobs as Observation
        # metrics — computed inside jobs the round already runs (cand/wave
        # scratch writes, the parsed-delta write), so they cost no extra
        # scans and no extra jobs. Tasks are a config-scale dim (a handful
        # of presets, like rules — never data-scale like hosts), so
        # #exprs = O(#tasks) is bounded; __init__ enforces _MAX_TASKS.
        self._desc(rnd, "cand(expire+dedup)")
        if frontier_unique:
            cand_in = deduped  # reload-free by the same proof
        else:
            reload_branch = cand.filter(F.col("reload"))
            if "_lseqs" in deduped.columns:
                reload_branch = reload_branch.withColumn(
                    "_lseqs", F.lit(None).cast("array<bigint>")
                )
            cand_in = deduped.unionByName(
                reload_branch.select(*deduped.columns)
            )
        obs_cand = Observation()
        cand_in = cand_in.observe(
            obs_cand,
            # reload rows bypass dedup, so only a reload-free candidate
            # set proves the NEXT frontier key-unique (flag propagation)
            F.sum(F.col("reload").cast("int")).alias("nreload"),
            *self._task_sums("cand"),
        )
        dedup_losers = None  # same-key non-winners to tombstone
        if fused:
            # no scratch, no barrier: the candidate plan IS the wave and
            # flows straight into the fetch join; counts (incl. the
            # Observation attached above, BELOW the join so a row-
            # multiplying fetcher can never inflate politeness accounting)
            # are read after the parsed-delta write job runs them.
            wave = cand_in
            if getattr(self.fetcher, "salt_wave", False):
                wave = wave.repartition(
                    self.shuffle_parts, F.xxhash64("host", "key")
                )
        else:
            cand = self._scratch(cand_in, rnd, "cand")
            if "_lseqs" in cand.columns:
                dedup_losers = cand.filter(F.size("_lseqs") > 0).select(
                    F.explode("_lseqs").alias("seq")
                )
                cand = cand.drop("_lseqs")
            # per-task candidate counts, free by-product of the scratch
            # write — the task-level topk passes the tasks that fit through
            # a filter and ranks only the tasks it must cut, with no counts
            # job of its own
            cand_counts = self._task_counts(obs_cand.get, "cand")
            n_cand = sum(cand_counts.values())

            # 3-4. budget top-k per task, then host-cap pass
            self._desc(rnd, "wave(topk)")
            # identity fast path (the measured-counts variant of the fused
            # proof): the manifest's frontier counts are taken before
            # expire/dedup, so they can exceed a budget while the measured
            # candidate counts still fit. When the cand-scratch Observation
            # proves every task's candidate count fits its budget and no
            # host cap is active, the budgeted top-k is a no-op filter —
            # reuse the cand scratch as the wave.
            identity_wave = not self._hostcap_active and all(
                n <= budgets.get(t, 1 << 40) for t, n in cand_counts.items()
            )
            if identity_wave:
                wave = cand
                used = dict(cand_counts)
            else:
                picked = budgeted_topk(
                    cand, "task", budgets, default_budget=1 << 40,
                    group_counts=cand_counts,
                )
                if self._hostcap_active:
                    wave = budgeted_topk(
                        picked, "host", self._host_budgets, default_budget=1 << 40
                    )
                else:
                    wave = picked
                # fetchers that process the wave IN PLACE (HttpFetcher's
                # mapInPandas) want a host-salted layout; join-based fetchers
                # (GraphFetcher) re-exchange the wave by curl inside the fetch
                # join anyway, so salting here would be a wasted full shuffle.
                wave_in = wave
                if getattr(self.fetcher, "salt_wave", False):
                    wave_in = wave.repartition(
                        self.shuffle_parts, F.xxhash64("host", "key")
                    )
                obs_wave = Observation()
                wave_in = wave_in.observe(obs_wave, *self._task_sums("wave"))
                wave = self._scratch(wave_in, rnd, "wave")
                used = self._task_counts(obs_wave.get, "wave")
            if not used:
                # all-deferred round, known BEFORE fetch/parse. A pruned
                # n_cand counts only the read prefix — emptiness of the
                # prefix proves nothing about the unread buckets.
                return self._commit_idle(
                    man, rnd, carries, n_cand == 0 and not pruned_partial,
                    stamped_seed_rows, t0,
                )

        # 5-6. fetch + parse in ONE pass (seen marking is folded into the
        # post-fetch delta: mark-before-fetch + unmark-on-failure ≡ add iff
        # ok or reload). The fetch join output is NEVER materialized with
        # bodies: parse_fetched masks body behind the ok flag, runs the
        # parse over the full frame, and persists only slim columns + parse
        # results — written ONCE, directly into the store's parsed table
        # (it doubles as the durable documents source: state.py derives the
        # documents view from it, so the round's largest payload — the span
        # text — is never written twice). Every downstream consumer
        # column-prunes that flat parquet scan.
        self._desc(rnd, "fetch+parse")
        fetched = self.fetcher.fetch(wave)
        obs_parsed = Observation()

        def _persist_parsed(df: DataFrame) -> DataFrame:
            ok = F.col("ok")
            df = df.observe(
                obs_parsed,
                *self._task_sums("ok", ok),
                *self._task_sums("fail", ~ok),
                *self._task_sums("item", ok & F.col("_p.item").isNotNull()),
                F.sum(F.when(ok | F.col("reload"), 1)).alias("nseen"),
                # total raw link matches — proves the link/retry machinery
                # (canonicalize, robots, seq prep, count job) can be skipped
                # when the wave discovered nothing
                F.sum(F.when(ok, F.size(F.col("_p.l_url")))).alias("nlinks"),
            )
            # the write-once barrier: parsed IS a store table (round delta),
            # not scratch — documents derive from it at read time. The
            # basePath partition read supplies `round`, so no round column
            # is written into the data files.
            self.store.append("parsed", rnd, df, partition_by="ok")
            return self.store.read_delta("parsed", rnd, schema=df.schema)

        parsed, _documents, items, raw_links = parse_fetched(
            fetched, self.rules, persist=_persist_parsed,
        )

        # 7. failures: retry once per key ever (SetFailure, schedule.go:431-447)
        failed = parsed.filter(~F.col("ok"))
        fo = failed_once.select("key") if failed_once is not None else None
        if n_failed_once == 0:
            # manifest counter proves failed_once empty: the retry
            # anti-join is the identity and nothing can be permanent —
            # skip the (broadcast-join) stage entirely
            fo = None

        # the parsed store write already ran (inside parse_fetched), so its
        # Observations are readable NOW. In fused mode this is where the
        # wave/candidate counts arrive (the Observation rode the fused job,
        # attached below the fetch join).
        if fused:
            cand_counts = self._task_counts(_observed(obs_cand), "cand")
            n_cand = sum(cand_counts.values())
            used = dict(cand_counts)
            if not used:
                # every candidate expired (e.g. all under closed tasks):
                # fused proves counts <= budgets, so an empty wave means an
                # empty candidate set and the crawl is done
                return self._commit_idle(
                    man, rnd, carries, True, stamped_seed_rows, t0
                )
        n_wave = sum(used.values())
        for name, t in self.tasks.items():
            carries[name] = [
                tier_carry_after(c, tier, self.round_s, used.get(name, 0))
                for c, tier in zip(carries[name], t.limits)
            ]
        pm = obs_parsed.get
        ok_counts = self._task_counts(pm, "ok")
        fail_counts = self._task_counts(pm, "fail")
        item_counts = self._task_counts(pm, "item")
        n_ok = sum(ok_counts.values())
        n_failed = sum(fail_counts.values())
        n_items = sum(item_counts.values())
        n_seen_delta = int(pm["nseen"] or 0)
        n_links_raw = int(pm["nlinks"] or 0)
        # The parsed Observation also proves emptiness per side: a wave
        # with zero raw links (the steady-state leaf-page shape) skips the
        # whole link pipeline (canonicalize, robots, seq prep, counts); a
        # wave with zero failures skips the retry pipeline. Each side gates
        # independently — hazard pages make failures nonzero on most real
        # waves while leaf waves still discover nothing.
        skip_links = n_links_raw == 0
        skip_retries = n_failed == 0

        links_prep = retries_prep = permanent = None
        if not skip_retries:
            retries_base = (
                failed.join(fo, "key", "left_anti") if fo is not None else failed
            ).withColumn("attempt", F.lit(1))
            permanent = (
                failed.join(fo, "key", "left_semi")
                if fo is not None
                else failed.limit(0)
            )
            retries_prep = prepare_dense_seq(
                retries_base.withColumnRenamed("seq", "_oseq"), ["_oseq"],
                bound=max_seq,
                n_parts=self._seq_parts(n_failed),
            )
        if not skip_links:
            links = with_canonical(
                raw_links.withColumn("method", F.lit("GET")), "url"
            ).withColumn("depth", (F.col("parent_depth") + 1).cast("int"))
            # robots disallow (north_rule addition; applied at enqueue)
            links = (
                links.join(self._robots_df, links["host"] == F.col("rhost"), "left")
                .withColumn(
                    "_path", F.coalesce(F.parse_url("curl", F.lit("PATH")), F.lit("/"))
                )
                .filter(
                    F.coalesce(
                        ~F.exists(
                            "disallow_prefixes",
                            lambda p: F.col("_path").startswith(p),
                        ),
                        F.lit(True),
                    )
                )
                .drop("rhost", "disallow_prefixes", "crawl_delay_ms", "_path")
            )

            # 9. seq assignment, fused (operators/seq.py): prepare the
            # bucket-partitioned, rank-tagged frames here (cached, still
            # lazy); their per-bucket counts ride the accounting job below and
            # finalize_dense_seq attaches the dense seqs with no extra barrier.
            links_prep = prepare_dense_seq(
                links, ["parent_seq", "match_idx"], bound=max_seq,
                n_parts=self._seq_parts(n_links_raw),
            )

        # ---- accounting. Every per-task count above came from the round's
        # Observations; the one accounting job is the link/retry
        # (kind, task, slice) count, which doubles as the dense-seq offset
        # source and the links_prep / retries_prep cache materialization.
        # 'selected' (politeness 'used') counts the WAVE, not the fetch-join
        # output, so a fetcher returning duplicate rows can never inflate
        # the carries. Each proven-empty side (skip_links / skip_retries)
        # stays out of the union. The job is DEFERRED into the write phase
        # below (run concurrently with the independent delta writes, which
        # need only the parsed-Observation counts already in hand).
        counted = None
        for prep, kind in ((links_prep, "link"), (retries_prep, "retry")):
            if prep is not None:
                part = prep.select(
                    F.lit(kind).alias("kind"), "task",
                    F.col("_bucket").alias("pid"),
                )
                counted = part if counted is None else counted.unionByName(part)

        frontier_cols = schemas.FRONTIER.fieldNames()
        empty_frontier = local_frame(spark, [], schemas.FRONTIER)

        # ---- writes (appends, frontier advance, then commit). Empty
        # deltas are skipped entirely — read_through tolerates missing round
        # directories, and a skipped write is one less job + commit. Slim
        # projections of the parsed delta coalesce to a few output tasks:
        # the local-mode driver schedules ~1-2k tasks/s TOTAL (a core-count-
        # independent floor), so 128-task scans on every one of ~6 pooled
        # write jobs cost more in scheduling than in work.
        n_slim = max(4, min(16, self.spark.sparkContext.defaultParallelism))
        seen_delta = (
            parsed.filter(F.col("ok") | F.col("reload"))
            .select("key", F.col("curl").alias("url"))
            .withColumn("round", F.lit(rnd))
        )
        lineage = (
            parsed.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("rows"))
            .withColumn("round", F.lit(rnd))
            .withColumn("stage", F.lit("fetch"))
            .select(*schemas.LINEAGE.fieldNames())
            .coalesce(1)
        )
        writes: list[tuple[str, object]] = []
        if n_seen_delta:
            writes.append(("seen", seen_delta.coalesce(n_slim)))
        if n_failed:
            writes.append(("failed_once", failed.select("key").coalesce(n_slim)))
        # documents are NOT written: the parsed delta (written once in the
        # fetch+parse stage) is their durable source; state.py projects the
        # documents view from it at read time.
        if n_items:
            items_r = items.withColumn("round", F.lit(rnd))
            writes.append(
                (
                    "results",
                    items_r.select(*schemas.RESULTS.fieldNames()).coalesce(
                        n_slim
                    ),
                )
            )
            if self.typed_tables:
                # lazy create-on-first-item: only rules whose TASK emitted
                # items this round get a write job (the frame itself then
                # filters to the rule); each is a narrow projection over
                # the shared scratch scan — no extra shuffle
                from .operators.typed_results import typed_results

                for r in self.rules:
                    if not (r.item_fields or r.emit_url_as):
                        continue
                    if not item_counts.get(r.task):
                        continue
                    writes.append(
                        (
                            os.path.join("typed", f"{r.task}__{r.rule}"),
                            typed_results(items_r, r),
                        )
                    )
        # order = a projection of the parsed delta (parsed carries every
        # slim wave column), so the wave frame is consumed exactly once
        # (by the fetch join) and the fused round never materializes it
        writes.append(
            (
                "order",
                parsed.select("task", "priority", "seq", "curl", "key")
                .withColumn("round", F.lit(rnd))
                .coalesce(n_slim),
            )
        )
        writes.append(("lineage", lineage))
        # all table writes are independent jobs over warm scans — run them
        # concurrently (Spark job scheduling is thread-safe; local mode
        # shares the task-slot pool, so wall time ≈ the largest write, not
        # the sum). The frontier write and the deferred link/retry count
        # job ride the same pool window: the count job (which materializes
        # the prep caches and supplies the seq offsets + link/retry metrics)
        # runs on THIS thread while the independent writes proceed.
        # concurrent write jobs overlap their per-job latency, but each one
        # brings a full task wave — beyond ~cores/2 submitters they just
        # time-slice the same slots and thrash caches
        n_writers = max(2, min(8, self.spark.sparkContext.defaultParallelism // 2))
        with ThreadPoolExecutor(max_workers=n_writers) as pool:
            futs = [
                pool.submit(
                    self._labeled, rnd, "write-deltas",
                    self.store.append, table, rnd, df,
                )
                for table, df in writes
            ]

            # kind -> (per-task count, per-slice count)
            counts = {k: (Counter(), Counter()) for k in ("link", "retry")}
            if counted is not None:
                self._desc(rnd, "accounting")
                for r in counted.groupBy("kind", "task", "pid").count().collect():
                    by_task, by_slice = counts[r["kind"]]
                    by_task[r["task"]] += r["count"]
                    by_slice[r["pid"]] += r["count"]
            (link_counts, link_slices), (retry_counts, retry_slices) = (
                counts["link"], counts["retry"]
            )

            if skip_links:
                # proven-empty by the parsed Observation: no rescans, no
                # seq jobs, a literal empty frame in the frontier union
                links = None
                n_links = 0
                new_links = empty_frontier
            else:
                # finalize dense seqs from the fused slice counts
                links = finalize_dense_seq(links_prep, link_slices, max_seq)
                n_links = links._total
                new_links = links.withColumn("attempt", F.lit(0)).select(
                    *frontier_cols
                )
            if skip_retries:
                retries = None
                n_retries = 0
                retries_f = empty_frontier
            else:
                retries = finalize_dense_seq(
                    retries_prep, retry_slices, max_seq + n_links
                )
                n_retries = retries._total
                retries = retries.drop("_oseq")
                retries_f = retries.select(*frontier_cols)

            # ---- frontier advance: delta round vs base rewrite ----
            # A delta round appends O(links+retries) rows + O(wave+losers)
            # seq tombstones instead of rewriting the O(frontier) survivor
            # set. Taken only when the deferred set is nonempty (otherwise
            # links∪retries IS a fresh tiny base — write it), no config
            # change forced a fold, and the arithmetic raw/live forecast
            # stays under the compaction threshold (rewrite_data_files
            # analog — the 1-in-K base rewrite amortizes to O(delta)).
            delta_round = False
            # pruned rounds never measured the full candidate set: use the
            # manifest's per-task frontier counts (an upper bound on live —
            # filter-dead rows stay counted until a compaction re-measures)
            # for the live/deferred arithmetic. Overestimating live only
            # DELAYS compaction and keeps the n_wave == eff_cand "deferred
            # empty" proof from firing spuriously (UB > live >= n_wave
            # whenever unread live buckets exist).
            eff_cand = (
                sum(fcounts_prev.values()) if pruned_partial else n_cand
            )
            raw_next = (
                man["frontier_raw"] + n_links + n_retries + len(stamped_seed_rows)
            )
            if not self._force_frontier_compact and n_wave != eff_cand:
                live_next = (eff_cand - n_wave) + n_links + n_retries
                delta_round = raw_next <= self.frontier_compact_factor * max(
                    live_next, 1
                )
            if delta_round:
                adds = []
                if not skip_links:
                    adds.append(new_links)
                if not skip_retries:
                    adds.append(retries_f)
                if stamped_seed_rows:
                    # queued seeds entered this round via the in-memory
                    # union only — persist them (waved/dedup-lost ones are
                    # simultaneously tombstoned, which nets out exactly)
                    adds.append(
                        local_frame(spark, stamped_seed_rows, schemas.FRONTIER)
                    )
                if adds:
                    adds_df = adds[0]
                    for p in adds[1:]:
                        adds_df = adds_df.unionByName(p)
                    futs.append(
                        pool.submit(
                            self._labeled, rnd, "frontier-delta",
                            self.store.append, "frontier_add", rnd, adds_df,
                        )
                    )
                dels = wave.select("seq")
                if dedup_losers is not None:
                    dels = dels.unionByName(dedup_losers)
                futs.append(
                    pool.submit(
                        self._labeled, rnd, "frontier-delta",
                        self.store.append, "frontier_del", rnd,
                        dels.coalesce(n_slim),
                    )
                )
            else:
                if n_wave == eff_cand:
                    # wave ⊆ cand by construction and seq is frontier-unique,
                    # so equal counts prove the deferred set empty — skips an
                    # |cand| x |wave| anti-join shuffle on full-throughput
                    # rounds
                    deferred = empty_frontier
                elif pruned_partial:
                    # compaction after a pruned round: the pruned cand holds
                    # only the read prefix — rebuild the survivor set from
                    # the FULL view (O(frontier) once, amortized: this IS
                    # the rewrite_data_files round)
                    deferred = _cand_filters(
                        self.store.read_frontier_view(fr_base, fr_round)
                    ).join(wave.select("seq"), "seq", "left_anti").select(
                        *frontier_cols
                    )
                else:
                    deferred = cand.join(
                        wave.select("seq"), "seq", "left_anti"
                    ).select(*frontier_cols)
                # union only the nonempty pieces: a proven-empty side would
                # contribute defaultParallelism zero-row partitions to the
                # frontier write (pure task-launch overhead on small deltas)
                pieces = []
                if n_wave != eff_cand:
                    pieces.append(deferred)
                if not skip_links:
                    pieces.append(new_links)
                if not skip_retries:
                    pieces.append(retries_f)
                if pieces:
                    next_frontier = pieces[0]
                    for p in pieces[1:]:
                        next_frontier = next_frontier.unionByName(p)
                else:
                    next_frontier = empty_frontier.coalesce(1)
                base_fut = pool.submit(
                    self._labeled, rnd, "frontier-snapshot",
                    self.store.write_frontier, rnd, next_frontier,
                    self.frontier_bucket_rows,
                )
                futs.append(base_fut)

            if n_failed > n_retries:
                futs.append(
                    pool.submit(
                        self._labeled, rnd, "write-deltas",
                        self.store.append,
                        "failures",
                        rnd,
                        permanent.select(
                            "key", F.col("curl").alias("url"), "task"
                        )
                        .withColumn("round", F.lit(rnd))
                        .coalesce(1),
                    )
                )
            # metrics are a handful of driver-local rows — written directly
            # via pyarrow, never through a Spark job
            metrics_rows = [
                {
                    "round": rnd,
                    "task": task,
                    "selected": n_sel,
                    "fetched_ok": ok_counts.get(task, 0),
                    "failed": fail_counts.get(task, 0),
                    "retried": retry_counts.get(task, 0),
                    "new_links": link_counts.get(task, 0),
                    "items": item_counts.get(task, 0),
                }
                for task, n_sel in sorted(used.items())
            ]
            self.store.append_local(
                "metrics", rnd, metrics_rows, schemas.ROUND_METRICS
            )
            # a delta round's consumption accounting for the pruned pop:
            # which (task, priority, bucket) each waved row came from — an
            # O(wave) job over the wave scratch, folded into the write
            # window. Kept current even on rounds the pruner sat out (queued
            # seeds, host cap), so the bucket live-bounds never go stale.
            if delta_round:
                self._desc(rnd, "frontier-delta")
                wave_bkts = (
                    wave.groupBy(
                        "task",
                        "priority",
                        F.expr(
                            f"CAST(seq div {int(bmeta['size'])} AS INT)"
                        ).alias("_pbkt"),
                    )
                    .agg(F.count(F.lit(1)).alias("count"))
                    .collect()
                )
            for f in futs:
                f.result()
        # done iff the new frontier is empty (budget-deferred rows keep it
        # alive); its size is pure arithmetic over already-known counts —
        # deferred (candidates minus wave; seq is frontier-unique) + new
        # links + retries — so no re-scan of the written frontier is needed
        n_frontier = (eff_cand - n_wave) + n_links + n_retries
        done = n_frontier == 0

        # per-task next-frontier counts: deferred (cand - used) + links +
        # retries — all already known. They are next round's PROOF that the
        # budgeted top-k is the identity (the fused-round precondition).
        cand_by_task = cand_counts
        if pruned_partial:
            # the pruned cand counted only the read prefix: advance the
            # manifest totals arithmetically instead (an upper bound on
            # live — filter-dead rows stay counted until a compaction
            # round re-measures exactly; safe for the fused proof, which
            # only fires when the bound fits the budgets)
            cand_by_task = fcounts_prev
        fcounts_next: dict[str, int] = {}
        for t in {*cand_by_task, *link_counts, *retry_counts}:
            n = (
                cand_by_task.get(t, 0)
                - used.get(t, 0)
                + link_counts.get(t, 0)
                + retry_counts.get(t, 0)
            )
            if n:
                fcounts_next[t] = n

        # next frontier = deferred ∪ links ∪ retries. deferred and retries
        # are disjoint subsets of cand_in (seq-unique split), so with no
        # links the next frontier is key-unique iff cand_in was — which
        # holds if this frontier was unique (cand_in ⊆ frontier) or the
        # dedup ran over a reload-free candidate set.
        next_unique = skip_links and (
            frontier_unique or not obs_cand.get["nreload"]
        )
        new_man = self._advance_manifest(
            man, rnd, carries, max_seq + n_links + n_retries, done,
            n_seen + n_seen_delta, frontier_counts=fcounts_next,
            frontier_unique=next_unique,
            failed_once_add=n_failed,
        )
        if delta_round:
            new_man["frontier_raw"] = raw_next
            new_man["frontier_buckets"] = _merge_consumed(bmeta, wave_bkts)
        else:
            # this round's write IS the new base (compaction / fresh tiny
            # base of a fully-consumed round); old deltas are GC'd lazily at
            # next round start, after this manifest commits
            bm = _bucket_meta(self.frontier_bucket_rows, base_fut.result())
            # the bucketed write's partition stats are an EXACT per-task
            # census of the new base — replace any arithmetic upper bounds
            # (pruned rounds) with them
            exact = {t: sum(d.values()) for t, d in bm["raw"].items()}
            n_frontier = sum(exact.values())
            new_man.update(
                frontier_base=rnd,
                frontier_raw=n_frontier,
                frontier_buckets=bm,
                frontier_counts=exact,
                done=n_frontier == 0,
            )
            self._force_frontier_compact = False
        new_man["stats"] = dict(
            round=rnd,
            selected=n_wave,
            fetched_ok=n_ok,
            failed=n_failed,
            new_links=int(n_links),
            items=n_items,
            wall_s=time.time() - t0,
        )
        new_man["fetch_count"] = man["fetch_count"] + n_wave
        self.store.commit(rnd, new_man)
        for df in (getattr(links, "_ranked", None),
                   getattr(retries, "_ranked", None)):
            if df is not None:
                df.unpersist()
        self._drop_scratch(rnd)
        return new_man

    def _commit_idle(
        self, man: dict, rnd: int, carries: dict, done: bool,
        seed_rows: list[dict], t0: float,
    ) -> dict:
        """Commit a round that fetched nothing: an all-deferred staged
        round, or a fused round whose candidates all expired. Budgets
        accrue unused and nothing but the manifest is written — it keeps
        pointing at the unchanged frontier view (base, deltas, raw size).
        The round's queued seeds lived only in its in-memory frontier, so
        they go back on the queue and the next round stamps them with the
        same seqs (max_seq stays put)."""
        self._pending_seeds = seed_rows
        for name, t in self.tasks.items():
            carries[name] = [
                tier_carry_after(c, tier, self.round_s, 0)
                for c, tier in zip(carries[name], t.limits)
            ]
        new_man = self._advance_manifest(
            man, rnd, carries, man["max_seq"], done, man["seen_count"],
            frontier_counts=man["frontier_counts"],
        )
        new_man["frontier_round"] = man["frontier_round"]
        new_man["stats"] = dict(
            round=rnd, selected=0, fetched_ok=0, failed=0, new_links=0,
            items=0, wall_s=time.time() - t0,
        )
        self.store.commit(rnd, new_man)
        self._drop_scratch(rnd)
        return new_man

    def _advance_manifest(
        self,
        man: dict,
        rnd: int,
        carries: dict,
        max_seq: int,
        done: bool,
        seen_count: int,
        frontier_counts: dict[str, int],
        frontier_unique: bool | None = None,
        failed_once_add: int = 0,
    ) -> dict:
        return {
            "round": rnd,
            "max_seq": int(max_seq),
            "fetch_count": man["fetch_count"],
            "seen_count": int(seen_count),
            "frontier_round": rnd,
            "carries": carries,
            "done": bool(done),
            # None = frontier unchanged this round — propagate the proof
            "frontier_unique": bool(man.get("frontier_unique"))
            if frontier_unique is None
            else bool(frontier_unique),
            "failed_once_count": man["failed_once_count"] + failed_once_add,
            "frontier_counts": {t: int(n) for t, n in frontier_counts.items()},
            # the frontier view's base rides through unchanged (the main
            # write path overrides it after advancing the view); an idle
            # round (_commit_idle) leaves the view exactly as it was
            "frontier_base": man["frontier_base"],
            "frontier_raw": man["frontier_raw"],
            "frontier_buckets": man["frontier_buckets"],
        }


def run_crawl(
    spark: SparkSession,
    fixture_dir: str,
    state_dir: str,
    tasks: list[TaskCfg],
    rules: list[Rule],
    robots: list[dict],
    round_s: int = 60,
    max_rounds: int = 10_000,
    **engine_kw,
) -> CrawlEngine:
    """Convenience: build engine over a materialized fixture and run it."""
    web_graph = spark.read.parquet(f"{fixture_dir}/web_graph")
    seeds = spark.read.parquet(f"{fixture_dir}/seeds")
    eng = CrawlEngine(
        spark,
        state_dir,
        GraphFetcher(web_graph),
        tasks,
        rules,
        robots,
        round_s,
        **engine_kw,
    )
    if eng.store.latest_round() is None:
        eng.init_state(seeds)
    eng.run(max_rounds=max_rounds)
    return eng

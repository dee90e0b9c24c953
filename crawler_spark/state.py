"""Snapshot-per-round commit protocol (checkpoint/resume).

Replaces the reference's etcd control plane (master/master.go) with a
driver-owned table store. Production target is Iceberg (snapshot commits,
merge-on-read deletes for frontier updates); this sandbox has no Iceberg
runtime, so the same protocol is realized on plain parquet:

- mutable state (``frontier``) is merge-on-read: a base under
  ``rounds/r{N}/frontier``, bucketed on the pop sort key, plus per-round
  appended rows (``frontier_add``) and consumed-seq tombstones
  (``frontier_del``); ``read_frontier_view`` assembles base ∪ adds minus
  dels, and the engine rewrites the base only when the raw/live ratio
  crosses a threshold or the round consumed the whole view
  (rewrite_data_files analog) — so steady-state per-round frontier I/O is
  O(wave+links), not O(frontier);
- monotone state (``seen``, ``failed_once``) and outputs (``parsed``,
  ``results``, ``order``, ``metrics``, ``failures``, ``lineage``) are
  append-only, written under ``<table>/round=N/`` — Iceberg appends;
  ``documents`` is a view over ``parsed``, never a table of its own;
- a round is visible only after its ``commit.json`` (written via tmp+rename,
  atomic on POSIX) exists. Resume = max committed round; uncommitted
  round directories are ignored and overwritten, which is exactly
  read-committed snapshot isolation.

The manifest also carries the scalar round state: politeness-bucket carries
(exact integer numerators), max assigned seq, and the running fetch count —
the full resume state besides the tables.

Operation-by-operation Iceberg mapping (reviewed against the Iceberg 1.x
Spark integration: SQL extensions + ``spark_catalog`` procedures). Left
column = this class; right = the exact call a cluster deployment swaps in.
Everything else in the engine is unchanged — the store is the only seam.

| parquet stand-in (here)              | Iceberg equivalent |
|--------------------------------------|--------------------|
| ``append(table, rnd, df)`` under ``<table>/round=N/`` | ``df.writeTo(table).append()`` — Iceberg appends are already snapshot-atomic; the ``round=N`` subdir becomes a plain ``round`` partition column |
| ``commit.json`` tmp+rename barrier | unnecessary — every Iceberg write IS an atomic snapshot commit; the cross-TABLE round barrier maps to a ``round`` watermark row appended last (or Nessie/REST-catalog multi-table transaction where available) |
| ``latest_round`` (max committed manifest) | ``SELECT max(round)`` from the watermark table, or ``snapshot_id`` from ``<table>.snapshots`` metadata |
| resume (ignore uncommitted round dirs) | time-travel read of the last committed snapshot: ``spark.read.option("snapshot-id", …)`` — uncommitted work is invisible by construction |
| ``frontier_add`` rows + ``frontier_del`` seq tombstones, assembled by ``read_frontier_view`` (base ∪ adds − dels) | merge-on-read table (``write.merge.mode=merge-on-read``): adds are appends, dels are positional/equality delete files; the read-side anti-join is what Iceberg readers do natively |
| base rewrite (``write_frontier``) on the engine's arithmetic trigger + ``drop_frontier_deltas`` | ``CALL spark_catalog.system.rewrite_data_files(table => 'frontier')`` — compacts delete files into a new base; delta GC is automatic |
| ``compact(table, upto)`` (small-files merge with crash-safe marker; ``recover_compactions``) | ``rewrite_data_files`` with a snapshot-age filter; crash safety comes free from snapshot isolation (a failed rewrite commits nothing) |
| ``expire_frontiers(keep_last)`` (delete old round dirs, ``protect`` pins) | ``CALL spark_catalog.system.expire_snapshots(table => 'frontier', retain_last => k)`` + ``remove_orphan_files``; ``protect`` = Iceberg branch/tag refs on pinned snapshots |
| ``read_frontier`` partition/bucket pruning (pruned-pop dir filter over the bucketed base) | hidden partitioning ``PARTITIONED BY (bucket(B, key))`` — pruning moves from path filters into Iceberg partition stats/manifest pruning |
| ``clean_round`` (delete an uncommitted round) | no-op — uncommitted snapshots never existed; a half-written wave is rolled back by ``CALL …rollback_to_snapshot`` if ever made visible |
| manifest scalar state (bucket carries, max seq, fetch count) | snapshot summary properties (``snapshot.summary()`` custom keys) or the same watermark-table row |
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import IntegerType, StructField, StructType

from . import schemas
from .schemas import arrow_table

# a frontier base as written: FRONTIER plus its bucket partition column
_BUCKETED_FRONTIER = StructType(
    list(schemas.FRONTIER.fields) + [StructField("_pbkt", IntegerType(), True)]
)


class SnapshotStore:
    APPEND_TABLES = (
        "seen",
        "failed_once",
        "parsed",
        "results",
        "order",
        "metrics",
        "failures",
        "lineage",
        # the merge-on-read frontier's per-round row appends and
        # consumed-seq tombstones. NEVER compact() these across a frontier
        # base boundary — the view reader filters round > base, so a merged
        # dir labeled with a round above the base would double-count rows
        # already folded into the base. The engine GCs them wholesale when
        # it writes a new base (drop_frontier_deltas).
        "frontier_add",
        "frontier_del",
    )

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- commit protocol ----------------------------------------------------

    def _round_dir(self, rnd: int) -> str:
        return os.path.join(self.root, "rounds", f"r{rnd:05d}")

    def _manifest_path(self, rnd: int) -> str:
        return os.path.join(self._round_dir(rnd), "commit.json")

    def _committed_rounds(self) -> list[int]:
        """Rounds with a committed manifest, ascending."""
        base = os.path.join(self.root, "rounds")
        if not os.path.isdir(base):
            return []
        return sorted(
            int(d[1:])
            for d in os.listdir(base)
            if d.startswith("r") and os.path.exists(self._manifest_path(int(d[1:])))
        )

    def latest_round(self) -> int | None:
        return max(self._committed_rounds(), default=None)

    def _delta_dir(self, table: str, rnd: int) -> str:
        return os.path.join(self.root, table, f"round={rnd}")

    def _delta_rounds(self, table: str, lo: int, hi: int) -> list[int]:
        """Rounds N of ``table``'s ``round=N`` delta dirs with lo < N <= hi,
        ascending."""
        base = os.path.join(self.root, table)
        if not os.path.isdir(base):
            return []
        rounds = (
            int(d.split("=")[1]) for d in os.listdir(base) if d.startswith("round=")
        )
        return sorted(r for r in rounds if lo < r <= hi)

    def _delta_dirs(self, table: str, lo: int, hi: int) -> list[str]:
        return [self._delta_dir(table, r) for r in self._delta_rounds(table, lo, hi)]

    def manifest(self, rnd: int) -> dict:
        with open(self._manifest_path(rnd)) as f:
            return json.load(f)

    def write_frontier(
        self, rnd: int, frontier: DataFrame, bucket_rows: int
    ) -> list:
        """Write the frontier base for round ``rnd``.

        The base is written PARTITIONED by (task, priority, _pbkt = seq div
        bucket_rows) — the parquet stand-in for an Iceberg table
        partitioned on the pop sort key. Because the wave pop is ordered
        (-priority, seq), the (priority desc, _pbkt asc) directory walk
        enumerates rows in pop order, so a budget-bound round can
        PARTITION-PRUNE the base read to the pop-order prefix covering its
        wave (engine.py pruned-pop path) instead of scanning O(frontier).
        Returns the per-(task, priority, _pbkt) ``count`` and ``max_seq``
        read back from the written files (partition columns plus ``seq``)
        — the engine persists the counts in the manifest as the pruning
        metadata (the Iceberg partition-stats analog), and takes round 0's
        per-task counts and max seq from the same census.
        """
        from pyspark.sql import functions as F

        path = os.path.join(self._round_dir(rnd), "frontier")
        df = frontier.withColumn(
            "_pbkt", F.expr(f"CAST(seq div {int(bucket_rows)} AS INT)")
        )
        (
            df.repartition("task", "priority", "_pbkt")
            .write.mode("overwrite")
            .partitionBy("task", "priority", "_pbkt")
            .parquet(path)
        )
        return (
            self.spark.read.schema(_BUCKETED_FRONTIER)
            .parquet(path)
            .groupBy("task", "priority", "_pbkt")
            .agg(F.count(F.lit(1)).alias("count"), F.max("seq").alias("max_seq"))
            .collect()
        )

    def read_frontier(self, rnd: int, with_bucket: bool = False) -> DataFrame:
        # explicit schema: skips the footer-inference job (a driver-serial
        # per-round constant). The partition columns (task, priority,
        # _pbkt) live in directory names; the user schema resolves them by
        # name (values cast from the dir strings), and _pbkt is dropped
        # unless the caller wants it for partition-pruning filters.
        path = os.path.join(self._round_dir(rnd), "frontier")
        df = self.spark.read.schema(_BUCKETED_FRONTIER).parquet(path)
        if not with_bucket:
            df = df.select(*schemas.FRONTIER.fieldNames())
        return df

    def read_frontier_dels(self, base_rnd: int, rnd: int) -> DataFrame | None:
        del_dirs = self._delta_dirs("frontier_del", base_rnd, rnd)
        if not del_dirs:
            return None
        return self.spark.read.schema("seq BIGINT").parquet(*del_dirs)

    def read_frontier_base_live(
        self, base_rnd: int, rnd: int, base_filter=None
    ) -> DataFrame:
        """Base snapshot minus tombstones, WITHOUT the row appends —
        optionally partition-pruned by ``base_filter`` (a predicate over
        task/priority/_pbkt). The engine's pruned-pop widening loop counts
        wave-eligible survivors on exactly this relation: prefix
        sufficiency must be proven against BASE rows only (appended rows
        are always read in full and cannot substitute for unread base
        rows in the pop order)."""
        out = self.read_frontier(base_rnd, with_bucket=base_filter is not None)
        if base_filter is not None:
            out = out.filter(base_filter).select(*schemas.FRONTIER.fieldNames())
        dels = self.read_frontier_dels(base_rnd, rnd)
        if dels is not None:
            out = out.join(dels, "seq", "left_anti")
        return out

    def read_frontier_view(
        self, base_rnd: int, rnd: int, base_filter=None
    ) -> DataFrame:
        """Merge-on-read frontier view at logical round ``rnd``:
        base snapshot ∪ committed row appends, minus consumed-seq
        tombstones (the Iceberg MERGE-on-read analog; the base rewrite is
        the rewrite_data_files analog, triggered arithmetically by the
        engine). Every delta round in (base, rnd] is committed — the
        engine's clean_round sweep removes torn current-round dirs before
        any read. ``base_filter`` partition-prunes the base side only
        (pruned-pop path); appends are always read in full."""
        out = self.read_frontier(base_rnd, with_bucket=base_filter is not None)
        if base_filter is not None:
            out = out.filter(base_filter).select(*schemas.FRONTIER.fieldNames())
        add_dirs = self._delta_dirs("frontier_add", base_rnd, rnd)
        if add_dirs:
            out = out.unionByName(
                self.spark.read.schema(schemas.FRONTIER).parquet(*add_dirs)
            )
        dels = self.read_frontier_dels(base_rnd, rnd)
        if dels is not None:
            out = out.join(dels, "seq", "left_anti")
        return out

    def drop_frontier_deltas(self, upto: int) -> None:
        """GC add/del deltas folded into a base at round ``upto`` (called
        lazily at round start, AFTER the base's manifest committed — a
        crash between base write and commit must leave the deltas intact
        for the old manifest's view)."""
        for table in ("frontier_add", "frontier_del"):
            for d in self._delta_dirs(table, -1, upto):
                shutil.rmtree(d, ignore_errors=True)

    def append(
        self, table: str, rnd: int, df: DataFrame,
        partition_by: str | None = None,
    ) -> None:
        path = self._delta_dir(table, rnd)
        if os.path.exists(path):  # crashed, uncommitted attempt — overwrite
            shutil.rmtree(path)
        w = df.write.mode("overwrite")
        if partition_by:
            # Iceberg-style partition pruning stand-in: e.g. the parsed
            # delta partitions on `ok` so the retry path opens only the
            # ~hazard-rate fraction of files instead of scanning the wave
            w = w.partitionBy(partition_by)
        w.parquet(path)

    def append_local(
        self, table: str, rnd: int, rows: list[dict], schema
    ) -> None:
        """Append a handful of DRIVER-LOCAL rows (e.g. per-round metrics)
        as one parquet file via pyarrow — no Spark job for data the driver
        already holds. Types follow the Spark schema so read_through unions
        these files with Spark-written deltas seamlessly."""
        import pyarrow.parquet as pq

        tbl = arrow_table(rows, schema)
        path = self._delta_dir(table, rnd)
        if os.path.exists(path):  # crashed, uncommitted attempt — overwrite
            shutil.rmtree(path)
        os.makedirs(path)
        pq.write_table(tbl, os.path.join(path, "part-00000.parquet"))

    def clean_round(self, rnd: int) -> None:
        """Remove ALL uncommitted leftovers of round ``rnd``.

        Called at round start: a prior crashed attempt may have written any
        subset of the round's table deltas before dying, and the re-run may
        legitimately skip some of those writes (empty deltas are gated) —
        without this sweep a torn ``round=rnd`` directory would stay visible
        to ``read_through`` forever. No-op when the round committed.
        """
        if os.path.exists(self._manifest_path(rnd)):
            return
        for table in self.APPEND_TABLES:
            path = self._delta_dir(table, rnd)
            if os.path.exists(path):
                shutil.rmtree(path)
        # per-task typed result tables are dynamic (lazy-created on first
        # item, sqlstorage.go:43-61) — sweep whatever exists under typed/
        typed_base = os.path.join(self.root, "typed")
        if os.path.isdir(typed_base):
            for d in os.listdir(typed_base):
                path = os.path.join(typed_base, d, f"round={rnd}")
                if os.path.exists(path):
                    shutil.rmtree(path)
        rd = self._round_dir(rnd)
        if os.path.exists(rd):
            shutil.rmtree(rd)

    def read_delta(self, table: str, rnd: int, schema=None) -> DataFrame:
        """Read back exactly one round's delta (e.g. the write-once parsed
        frame the round just appended and keeps using as its hot frame).
        ``schema``: pass the known StructType to skip the footer-inference
        job."""
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(self._delta_dir(table, rnd))

    # fixed per-table delta schemas (skips per-round inference jobs for the
    # hot reads; tables absent here infer as before)
    def _table_schema(self, table: str):
        if table == "seen":
            return schemas.SEEN
        if table == "failed_once":
            return StructType.fromDDL("key string")
        if table == "frontier_add":
            return schemas.FRONTIER
        if table == "frontier_del":
            return StructType.fromDDL("seq bigint")
        return None

    def read_through(self, table: str, rnd: int) -> DataFrame | None:
        """Union of committed deltas round<=rnd (read-committed view)."""
        if table == "documents":
            return self._read_documents(rnd)
        dirs = self._delta_dirs(table, -1, rnd)
        if not dirs:
            return None
        reader = self.spark.read
        schema = self._table_schema(table)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*dirs)

    def _read_documents(self, rnd: int) -> DataFrame | None:
        """Documents are a DERIVED VIEW over the per-round parsed deltas —
        the span text is written once per round (engine writes the parsed
        frame as both its materialization barrier and the durable output;
        writing a separate documents table doubled the round's largest
        write). Iceberg analog: a view (or partition-projected metadata
        table) over the parsed snapshots. A compacted parsed base keeps
        the deltas' ``ok=`` partition layout (see compact), so the view
        reads it unchanged."""
        from pyspark.sql import functions as F

        from .operators.parse import spans_col

        dirs = self._delta_dirs("parsed", -1, rnd)
        if not dirs:
            return None
        return (
            self.spark.read.option("basePath", os.path.join(self.root, "parsed"))
            .parquet(*dirs)
            # `ok` is a PARTITION column of the parsed delta (discovered as
            # string); the equality filter still prunes at file-listing level
            .filter(F.col("ok").cast("boolean"))
            .select(
                F.col("curl").alias("doc_id"),
                spans_col().alias("spans"),
                "round",
            )
        )

    def commit(self, rnd: int, manifest: dict) -> None:
        os.makedirs(self._round_dir(rnd), exist_ok=True)
        tmp = self._manifest_path(rnd) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path(rnd))

    # -- maintenance (Iceberg rewrite_data_files / expire_snapshots analogs) --
    #
    # A long crawl accretes one delta directory per table per round; at 10^5
    # rounds read_through unions 10^5 parquet dirs — listing alone becomes
    # the bottleneck, exactly the small-files problem Iceberg solves with
    # rewrite_data_files + expire_snapshots. Same two ops here:
    #
    # - compact(table, upto): merge all deltas with round<=upto into ONE base
    #   delta labeled round=upto. read_through(rnd>=upto) is unchanged;
    #   time travel below the horizon is given up (identical to expiring
    #   Iceberg snapshots past the retention window).
    # - expire_frontiers(keep_last): drop the frontier bases (full copies,
    #   the rewrite_data_files outputs) older than the retention window;
    #   manifests stay, so latest_round()/resume are unaffected.
    #
    # Crash safety of compact: the swap is guarded by a marker file written
    # atomically BEFORE any old delta is removed; the compacted base is
    # complete on disk at that point (in a dot-dir read_through ignores).
    # recover_compactions() — called on store init — replays or rolls back
    # any interrupted swap, so a kill at any instant leaves the read-through
    # view equal to the pre- or post-compaction state, never a mix.

    def _compact_marker(self, table: str) -> str:
        return os.path.join(self.root, table, "COMPACT_SWAP.json")

    def compact(self, table: str, upto: int) -> int:
        """Merge all ``round<=upto`` deltas of ``table`` into one base delta
        at ``round=upto``. Returns the number of deltas merged (0 = no-op).
        Call between rounds (no concurrent writer of this table)."""
        rounds = self._delta_rounds(table, -1, upto)
        if len(rounds) < 2:
            return 0
        tmp = os.path.join(self.root, table, ".compact_tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        dirs = [self._delta_dir(table, r) for r in rounds]
        df = self.spark.read.parquet(*dirs)
        w = df.coalesce(
            max(1, self.spark.sparkContext.defaultParallelism)
        ).write.mode("overwrite")
        if table == "parsed" and "ok" in df.columns:
            # preserve the delta's ok= partition layout (discovered as a
            # string partition col; re-partitioning on it re-emits the
            # identical ok=true/ok=false directory names)
            w = w.partitionBy("ok")
        w.parquet(tmp)
        # marker commits the intent atomically; from here recover() can
        # always finish the swap because tmp is complete
        mtmp = self._compact_marker(table) + ".tmp"
        with open(mtmp, "w") as f:
            json.dump({"upto": upto, "rounds": rounds}, f)
        os.replace(mtmp, self._compact_marker(table))
        self._finish_compact(table, upto, rounds)
        return len(rounds)

    def _finish_compact(self, table: str, upto: int, rounds: list[int]) -> None:
        base = os.path.join(self.root, table)
        tmp = os.path.join(base, ".compact_tmp")
        for r in rounds:
            shutil.rmtree(os.path.join(base, f"round={r}"), ignore_errors=True)
        if os.path.isdir(tmp):
            os.replace(tmp, os.path.join(base, f"round={upto}"))
        os.remove(self._compact_marker(table))

    def recover_compactions(self) -> None:
        """Replay (marker present, tmp complete) or roll back (no marker)
        any compaction interrupted by a crash."""
        for table in self.APPEND_TABLES:
            base = os.path.join(self.root, table)
            marker = self._compact_marker(table)
            if os.path.exists(marker):
                with open(marker) as f:
                    m = json.load(f)
                self._finish_compact(table, m["upto"], m["rounds"])
            elif os.path.isdir(os.path.join(base, ".compact_tmp")):
                # died before the marker: pre-compaction state is intact
                shutil.rmtree(os.path.join(base, ".compact_tmp"))

    def expire_frontiers(self, keep_last: int = 2, protect: set[int] | None = None) -> int:
        """Drop frontier snapshots older than the last ``keep_last``
        committed rounds (manifests are kept — resume still works from the
        newest snapshot). ``protect``: rounds never expired — the latest
        manifest's ``frontier_base``, which may be arbitrarily
        far behind. Returns the number of snapshots removed."""
        committed = self._committed_rounds()
        # the newest manifest's frontier_base is always implicitly protected
        if committed:
            last = self.manifest(committed[-1])
            fb = last.get("frontier_base")
            if fb is not None:
                protect = (protect or set()) | {int(fb)}
        removed = 0
        for rnd in committed[: max(0, len(committed) - keep_last)]:
            if protect and rnd in protect:
                continue
            fdir = os.path.join(self._round_dir(rnd), "frontier")
            if os.path.isdir(fdir):
                shutil.rmtree(fdir)
                removed += 1
        return removed

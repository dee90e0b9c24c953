"""Snapshot-store maintenance: delta compaction and frontier expiry — the
Iceberg rewrite_data_files / expire_snapshots analogs (state.py docstring).
A 10^5-round crawl must not leave 10^5 delta dirs per table, and the swap
must be crash-safe at every instant."""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import functions as F

from crawler_spark import schemas
from crawler_spark.schemas import local_frame
from crawler_spark.state import SnapshotStore


def _frontier_rows(spark, n):
    rows = [
        {"url": f"u{i}", "curl": f"u{i}", "host": "h", "method": "GET",
         "key": f"k{i}", "task": "t", "rule": "r", "depth": 0, "priority": 0,
         "seq": i, "attempt": 0, "tmp": {}}
        for i in range(n)
    ]
    return local_frame(spark, rows, schemas.FRONTIER)


def _seed_store(spark, root, n_rounds=5):
    st = SnapshotStore(spark, root)
    for r in range(n_rounds):
        df = spark.range(r * 10, r * 10 + 10).select(
            F.concat(F.lit("k"), "id").alias("key"), F.lit(r).alias("round_added")
        )
        st.append("seen", r, df)
        st.write_frontier(r, _frontier_rows(spark, 3), bucket_rows=2)
        st.commit(r, {"round": r})
    return st


def _seen_keys(st, rnd):
    return {r["key"] for r in st.read_through("seen", rnd).collect()}


def test_compact_preserves_read_through(spark, tmpdir_):
    st = _seed_store(spark, tmpdir_)
    before = _seen_keys(st, 4)
    merged = st.compact("seen", upto=3)
    assert merged == 4  # rounds 0..3
    # exactly two delta dirs remain: the compacted base + round 4
    base = os.path.join(tmpdir_, "seen")
    dirs = sorted(d for d in os.listdir(base) if d.startswith("round="))
    assert dirs == ["round=3", "round=4"]
    assert _seen_keys(st, 4) == before
    assert len(_seen_keys(st, 3)) == 40  # horizon view intact too


def test_compact_noop_cases(spark, tmpdir_):
    st = _seed_store(spark, tmpdir_, n_rounds=1)
    assert st.compact("seen", upto=0) == 0  # single delta: nothing to merge
    assert st.compact("failures", upto=5) == 0  # table never written


def test_compact_crash_before_marker_rolls_back(spark, tmpdir_):
    """tmp dir exists but no marker -> recover() must roll back cleanly."""
    st = _seed_store(spark, tmpdir_)
    before = _seen_keys(st, 4)
    tmp = os.path.join(tmpdir_, "seen", ".compact_tmp")
    spark.range(1).write.parquet(tmp)  # simulated partial compaction output
    st.recover_compactions()
    assert not os.path.exists(tmp)
    assert _seen_keys(st, 4) == before


def test_compact_crash_after_marker_replays(spark, tmpdir_):
    """Marker written, swap not finished -> recover() must complete it."""
    st = _seed_store(spark, tmpdir_)
    before = _seen_keys(st, 4)
    base = os.path.join(tmpdir_, "seen")
    rounds = [0, 1, 2, 3]
    dirs = [os.path.join(base, f"round={r}") for r in rounds]
    tmp = os.path.join(base, ".compact_tmp")
    spark.read.parquet(*dirs).write.parquet(tmp)
    with open(os.path.join(base, "COMPACT_SWAP.json"), "w") as f:
        json.dump({"upto": 3, "rounds": rounds}, f)
    shutil.rmtree(dirs[0])  # crash mid-removal: one old delta already gone
    st.recover_compactions()
    assert not os.path.exists(os.path.join(base, "COMPACT_SWAP.json"))
    assert _seen_keys(st, 4) == before
    assert sorted(d for d in os.listdir(base) if d.startswith("round=")) == [
        "round=3",
        "round=4",
    ]


def test_expire_frontiers_keeps_resume_point(spark, tmpdir_):
    st = _seed_store(spark, tmpdir_)
    assert st.expire_frontiers(keep_last=2) == 3  # rounds 0,1,2 dropped
    assert st.latest_round() == 4  # manifests untouched
    assert st.read_frontier(4).count() == 3  # newest snapshot readable
    assert not os.path.isdir(os.path.join(st._round_dir(0), "frontier"))
    # idempotent
    assert st.expire_frontiers(keep_last=2) == 0

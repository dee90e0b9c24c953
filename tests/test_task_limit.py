"""The engine's per-task round counts are Observation metrics with one
expression per configured task, so the task count is bounded at
construction: tasks are preset parser configs, config-scale like rules.
The Observation counts themselves are pinned against the oracle by
tests/test_golden_e2e.py::test_metrics_match."""

from __future__ import annotations

import os

import pytest

from crawler_spark.engine import CrawlEngine
from crawler_spark.textcore import LimitTier, TaskCfg


def test_more_than_256_tasks_rejected(spark, tmp_path):
    tasks = [
        TaskCfg(name=f"t{i}", limits=(LimitTier(10, 60, 10),))
        for i in range(257)
    ]
    state = str(tmp_path / "state")
    with pytest.raises(ValueError, match="257 tasks"):
        CrawlEngine(spark, state, None, tasks, [], [])
    assert not os.path.exists(state)


def test_frontier_bucket_rows_below_one_rejected(spark, tmp_path):
    """Every frontier base is bucketed; there is no unbucketed layout that
    a bucket size of 0 could select."""
    tasks = [TaskCfg(name="t", limits=(LimitTier(10, 60, 10),))]
    state = str(tmp_path / "state")
    for bad in (0, -1):
        with pytest.raises(ValueError, match="frontier_bucket_rows"):
            CrawlEngine(spark, state, None, tasks, [], [], frontier_bucket_rows=bad)
    assert not os.path.exists(state)

"""The benchmark's tracer wraps engine and store attributes by name
(perfbench/tracing.py); every name it lists must still resolve, or a traced
benchmark run fails before its first round."""

from __future__ import annotations


def test_tracer_installs_and_uninstalls():
    import crawler_spark.engine as engine_mod
    from perfbench.tracing import ENGINE_FUNCS, Tracer

    before = {a: getattr(engine_mod, a) for a in ENGINE_FUNCS}
    tr = Tracer()
    tr.install()
    try:
        for attr in ENGINE_FUNCS:
            assert getattr(engine_mod, attr) is not before[attr]
    finally:
        tr.uninstall()
    for attr, fn in before.items():
        assert getattr(engine_mod, attr) is fn


def test_link_retry_count_runs_under_accounting_label(spark, tmpdir_, monkeypatch):
    """perfbench attributes jobs to phases by their ``r{n}:{phase}``
    description; the link/retry (kind, task, pid) count must carry the
    accounting label, not a label set earlier for other jobs."""
    from crawler_spark import schemas
    from crawler_spark.engine import CrawlEngine
    from crawler_spark.operators.fetch import GraphFetcher
    from test_frontier_delta import _hub_fixture

    sc = spark.sparkContext
    labels = []
    frame_cls = type(spark.range(1))  # the concrete DataFrame class
    collect = frame_cls.collect

    def recording_collect(self):
        labels.append(
            (tuple(self.columns), sc.getLocalProperty("spark.job.description"))
        )
        return collect(self)

    pages, seeds, tasks, rules = _hub_fixture()
    eng = CrawlEngine(
        spark, f"{tmpdir_}/st", GraphFetcher(spark.createDataFrame(pages)),
        tasks, rules, [], round_s=60,
    )
    eng.init_state(spark.createDataFrame(seeds, schemas.FRONTIER))
    monkeypatch.setattr(frame_cls, "collect", recording_collect)
    eng.run(max_rounds=1)
    monkeypatch.undo()
    counts = [d for cols, d in labels if cols == ("kind", "task", "pid", "count")]
    assert counts == ["r1:accounting"], labels

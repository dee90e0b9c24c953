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

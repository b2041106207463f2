"""The benchmark's traced run (cdcbench/trace.py) wraps the drivers'
layer functions by module attribute name.  A refactor that drops or
renames one of those names must fail here, not only in a traced
benchmark run."""

from __future__ import annotations


def test_tracer_install_wraps_and_unwrap_restores(spark):
    from cdcbench.trace import Tracer

    tracer = Tracer(spark)
    try:
        tracer.install()
        patched = list(tracer._patched)
        wrapped = [getattr(owner, attr) for owner, attr, _ in patched]
    finally:
        tracer.unwrap()
    assert patched
    for (owner, attr, orig), fn in zip(patched, wrapped):
        assert fn is not orig, attr
        assert getattr(owner, attr) is orig, attr

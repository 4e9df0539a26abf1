"""Span bookkeeping: self-time arithmetic, nesting and pickling of wrappers."""

from __future__ import annotations

import sys
import threading
import types

import pytest
from pyspark import cloudpickle

from perfbench.trace import Span, Tracer, descendants, innermost, layer_of, self_times


def _span(i, parent, start, end, layer="x"):
    return Span(id=i, parent=parent, name=f"s{i}", layer=layer, start=start, end=end)


def test_self_time_subtracts_children():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 3.0), _span(2, 0, 5.0, 9.0)]
    st = self_times(spans)
    assert st[0] == pytest.approx(4.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(4.0)


def test_self_time_counts_overlapping_children_once():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 6.0), _span(2, 0, 4.0, 8.0)]
    assert self_times(spans)[0] == pytest.approx(3.0)


def test_self_time_clips_children_to_the_parent():
    spans = [_span(0, None, 2.0, 6.0), _span(1, 0, 1.0, 3.0), _span(2, 0, 5.0, 9.0)]
    assert self_times(spans)[0] == pytest.approx(2.0)


def test_self_times_sum_to_the_root_duration():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 7.0),
        _span(2, 1, 2.0, 4.0),
        _span(3, 2, 2.5, 3.0),
        _span(4, 0, 8.0, 9.5),
    ]
    assert sum(self_times(spans).values()) == pytest.approx(10.0)


def test_descendants_and_innermost():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 7.0), _span(2, 1, 2.0, 4.0)]
    assert descendants(spans, 1) == {1, 2}
    assert innermost(spans, 3.0).id == 2
    assert innermost(spans, 8.0).id == 0
    assert innermost(spans, 11.0) is None


def test_layer_of_module_names():
    assert layer_of("projectmapreduce_spark.operators.dedup") == "operators.dedup"
    assert layer_of("projectmapreduce_spark.io") == "io"
    assert layer_of("projectmapreduce_spark.streaming.core") == "streaming"
    assert layer_of("projectmapreduce_spark.sources.fixed_width") == "python"
    assert layer_of("projectmapreduce_spark.queries.flagship") is None


def test_wrapper_records_nested_spans_only_while_active():
    tracer = Tracer()

    def inner(x):
        return x + 1

    inner_t = tracer.wrap(inner, "operators.a")

    def outer(x):
        return inner_t(x) * 2

    outer_t = tracer.wrap(outer, "io")
    assert outer_t(1) == 4
    assert tracer.spans == []
    tracer.active = True
    assert outer_t(1) == 4
    (o, i) = tracer.spans
    assert (o.layer, i.layer) == ("io", "operators.a")
    assert i.parent == o.id and o.parent is None
    assert o.start <= i.start <= i.end <= o.end


def test_wrapper_closes_its_span_on_error():
    tracer = Tracer()
    tracer.active = True

    def boom():
        raise ValueError("x")

    with pytest.raises(ValueError):
        tracer.wrap(boom, "io")()
    with tracer.span("after", "queries") as s:
        pass
    assert tracer.spans[0].end > 0
    assert s.parent is None


def test_wrapper_pickles_by_reference():
    """A wrapped module function sent to a Python worker must not drag the
    tracer (which may hold unpicklable state) along with it."""
    mod = types.ModuleType("perfbench_pickle_probe")
    exec("def double(x):\n    return 2 * x\n", mod.__dict__)
    sys.modules[mod.__name__] = mod
    try:
        tracer = Tracer()
        tracer.lock = threading.Lock()  # would fail to pickle by value
        mod.double = tracer.wrap(mod.double, "operators.a")
        blob = cloudpickle.dumps(mod.double)
        assert cloudpickle.loads(blob) is mod.double
    finally:
        del sys.modules[mod.__name__]

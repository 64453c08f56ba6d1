"""Span self time: duration minus the time direct children cover."""

import math

from spans import Tracer, self_times, total_times


def test_self_time_of_nested_spans():
    # [id, name, start, end, parent, op]
    spans = [
        [0, "outer", 0.0, 10.0, None, 0],
        [1, "mid", 1.0, 5.0, 0, 0],
        [2, "leaf", 2.0, 3.0, 1, 0],
        [3, "leaf", 2.5, 4.0, 1, 0],  # overlaps its sibling
        [4, "mid", 6.0, 8.0, 0, 0],
        [5, "outer", 20.0, 21.0, None, 1],
    ]
    st = self_times(spans)
    assert math.isclose(st["outer"], 10.0 - 6.0 + 1.0)
    assert math.isclose(st["mid"], (4.0 - 2.0) + 2.0)
    assert math.isclose(st["leaf"], 1.0 + 1.5)
    assert math.isclose(total_times(spans)["outer"], 11.0)


def test_recursive_span_counted_once_in_total():
    spans = [
        [0, "slice", 0.0, 4.0, None, 0],
        [1, "slice", 1.0, 2.0, 0, 0],
    ]
    assert total_times(spans)["slice"] == 4.0
    assert self_times(spans)["slice"] == 4.0


def test_wrap_records_parent_and_op_and_unwraps():
    class Board:
        def slice(self, x):
            return self.collect(x) + 1

        def collect(self, x):
            return x * 2

    tracer = Tracer()
    tracer.wrap(Board, "slice", "engine.slice")
    tracer.wrap(Board, "collect", "engine.collect")
    tracer.op = 4
    assert Board().slice(3) == 7
    tracer.unwrap_all()
    assert Board().slice(3) == 7
    assert len(tracer.spans) == 2
    outer, inner = tracer.spans
    assert outer[1] == "engine.slice" and inner[1] == "engine.collect"
    assert inner[4] == outer[0] and outer[4] is None
    assert outer[5] == inner[5] == 4
    assert tracer.calls["engine.collect"] == 1

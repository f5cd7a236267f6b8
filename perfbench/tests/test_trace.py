"""Self-time roll-up and status-store metric parsing."""

from __future__ import annotations

import pytest

from perfbench import trace


def _span(i, parent, start, end, layer):
    return {"id": i, "parent": parent, "start": start, "end": end, "layer": layer, "op": 0}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0, "bench"),
        _span(1, 0, 1.0, 4.0, "collect"),
        _span(2, 1, 2.0, 3.0, "exec"),
        _span(3, 1, 2.5, 3.5, "exec"),  # overlaps its sibling
        _span(4, 0, 9.0, 12.0, "iceberg"),  # runs past its parent
    ]
    st = trace.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 3.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 1.5)
    assert trace.self_time_by_layer(spans)["exec"] == pytest.approx(2.0)


def test_tracer_nests_spans_and_attaches_engine_spans():
    tr = trace.Tracer()
    tr.begin_op("q1")
    with tr.span("collect", "collect") as attrs:
        attrs["rows"] = 3
    tr.end_op()
    root, coll = tr.op_spans(0)
    job = tr.add_child(coll, "job0", "exec", coll["start"], coll["end"])
    assert coll["parent"] == root["id"] and job["op"] == 0 and coll["attrs"]["rows"] == 3


@pytest.mark.parametrize(
    "text, value",
    [("2,117", 2117.0), ("1.5 s", 1.5), ("343 ms", 0.343), ("0.0 B", 0.0),
     ("total (min, med, max (stageId: taskId))\n25.8 MiB (12.9 MiB, 12.9 MiB, 12.9 MiB (stage 30.0: task 14))",
      25.8 * (1 << 20)),
     (None, 0.0)],
)
def test_parse_sql_metric(text, value):
    assert trace.parse_sql_metric(text) == pytest.approx(value)

"""Span self time, unattributed time and per-layer arithmetic."""

import threading

import pytest

import spans
from spans import Span


def _sp(i, name, parent, start, end, **counts):
    return Span(i, name, parent, "c", start, end, dict(counts))


def test_self_times_nested_sum_to_wall():
    tree = [
        _sp(1, "op.upsert", None, 0.0, 10.0),
        _sp(2, "ingest.upsert", 1, 1.0, 9.0),
        _sp(3, "catalog.load", 2, 2.0, 3.0),
        _sp(4, "catalog.commit", 2, 7.0, 8.5),
    ]
    st = spans.self_times(tree, 1)
    assert st[1] == pytest.approx(2.0)  # unattributed: [0,1) + [9,10)
    assert st[2] == pytest.approx(8.0 - 1.0 - 1.5)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(1.5)
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_times_split_parallel_children():
    # two rewrite threads overlap on [2, 4): each gets half of it
    tree = [
        _sp(1, "op.maintain", None, 0.0, 6.0),
        _sp(2, "writer.write", 1, 1.0, 4.0),
        _sp(3, "writer.write", 1, 2.0, 5.0),
    ]
    st = spans.self_times(tree, 1)
    assert st[2] == pytest.approx(1.0 + 1.0)
    assert st[3] == pytest.approx(1.0 + 1.0)
    assert st[1] == pytest.approx(2.0)
    assert sum(st.values()) == pytest.approx(6.0)


def test_child_outliving_parent_is_clipped():
    tree = [_sp(1, "op.x", None, 0.0, 2.0), _sp(2, "y", 1, 1.0, 3.0)]
    st = spans.self_times(tree, 1)
    assert st == {1: pytest.approx(1.0), 2: pytest.approx(1.0)}


def test_breakdowns_and_layer_metrics():
    tree = [
        _sp(1, "op.upsert", None, 0.0, 4.0),
        _sp(2, "ingest.upsert", 1, 0.5, 4.0),
        _sp(3, "catalog.load", 2, 1.0, 2.0, loads=1, entries=1000, bytes_read=500),
        _sp(4, "op.scoped_read", None, 5.0, 6.0),
        _sp(5, "datasource.read", 4, 5.0, 6.0),
    ]
    per_span = {"3": {"spark.jobs": 0.0}, "5": {"spark.jobs": 2.0, "spark.tasks": 8.0}}
    ops = spans.breakdowns(tree, per_span, [1, 4])
    for o in ops:
        assert sum(o["layers"].values()) + o["unattributed_s"] == pytest.approx(
            o["wall_s"]
        )
    assert ops[0]["unattributed_s"] == pytest.approx(0.5)
    m = spans.layer_metrics(ops)
    assert m["catalog.load_s"]["value"] == pytest.approx(1.0)
    assert m["ingest.upsert_self_s"]["value"] == pytest.approx(2.5)
    assert m["catalog.loads_per_op"]["value"] == pytest.approx(0.5)
    assert m["catalog.bytes_read_per_op"]["value"] == pytest.approx(250)
    assert m["manifest.entries"]["value"] == 1000
    assert m["spark.jobs"]["value"] == pytest.approx(1.0)
    assert m["unattributed_s"]["value"] == pytest.approx(0.25)
    assert m["plans.plan_s"]["value"] == 0.0  # layer absent: 0, not missing


def test_tracer_adopt_keeps_parent_across_threads():
    tr = spans.Tracer(enabled=True)
    seen = {}
    with tr.span("op.maintain") as root:
        parent = tr.current()

        def work():
            with tr.adopt(parent):
                with tr.span("writer.write") as child:
                    seen["parent"] = child.parent
            seen["after"] = tr.current()

        t = threading.Thread(target=work)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    assert seen == {"parent": root.id, "after": None}


def test_disabled_tracer_records_nothing():
    tr = spans.Tracer(enabled=False)
    with tr.span("op.x") as sp:
        assert sp is None
    assert tr.spans == []

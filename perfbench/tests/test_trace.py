import json
from pathlib import Path

import pytest

from perfbench import trace

FIXTURE = Path(__file__).parent / "fixtures" / "eventlog.jsonl"


def _span(sid, start, end, parent=None, name="s"):
    return trace.Span(sid, name, start, end, parent, "r", f"g{sid}", 0)


def test_self_time_subtracts_merged_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 3.0, parent=0),
        _span(2, 2.0, 4.0, parent=0),  # overlaps span 1: counted once
        _span(3, 6.0, 7.0, parent=0),
        _span(4, 6.2, 6.5, parent=3),  # grandchild: only its parent's self time shrinks
        _span(5, 9.5, 12.0, parent=0),  # clipped to the parent's end
    ]
    st = trace.self_times(spans)
    assert st[0] == pytest.approx(10.0 - (3.0 + 1.0 + 0.5))
    assert st[3] == pytest.approx(1.0 - 0.3)
    assert st[1] == pytest.approx(2.0)
    assert st[4] == pytest.approx(0.3)


def test_descendants_walks_the_whole_subtree():
    spans = [_span(0, 0, 5), _span(1, 1, 2, parent=0), _span(2, 1, 2, parent=1), _span(3, 3, 4)]
    assert sorted(s.sid for s in trace.descendants(spans, 0)) == [0, 1, 2]


def test_tracer_nests_spans_and_dumps_self_time(tmp_path):
    t = trace.Tracer("run1")
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert inner.parent == outer.sid and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end
    t.dump(tmp_path / "spans.jsonl")
    rows = [json.loads(line) for line in (tmp_path / "spans.jsonl").read_text().splitlines()]
    assert [r["name"] for r in rows] == ["outer", "inner"]
    assert all(r["run_id"] == "run1" and r["self_s"] >= 0 for r in rows)


def test_event_log_reducer_on_fixture():
    with FIXTURE.open() as f:
        got = trace.reduce_event_log(f)
    assert set(got) == {"perfbench-t-0", "perfbench-t-1", ""}
    walk = got["perfbench-t-0"]
    assert walk["tasks"] == 2
    assert walk["executor_run_s"] == pytest.approx((120 + 80) / 1e3)
    assert walk["executor_cpu_s"] == pytest.approx((90_000_000 + 50_000_000) / 1e9)
    assert walk["gc_s"] == pytest.approx(15 / 1e3)
    plan = got["perfbench-t-1"]
    assert plan["shuffle_write_bytes"] == 4096 + 1024
    assert plan["tasks"] == 2
    # a retried stage attempt keeps its own group; ungrouped stages go to ""
    assert got[""]["tasks"] == 1


def test_event_log_dir_sums_files(tmp_path):
    for name in ("app-1", "app-2"):
        (tmp_path / name).write_text(FIXTURE.read_text())
    got = trace.reduce_event_log_dir(tmp_path)
    assert got["perfbench-t-0"]["tasks"] == 4

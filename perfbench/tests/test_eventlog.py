"""Event-log parser and span-tree attribution on a small fixture log.

The fixture holds two applications (stage ids restart in the second), a
rolled log split over two parts, a failed task without metrics and a stage
that never completed.
"""

import os

import pytest

import eventlog
import layers
from spans import Span

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog")


@pytest.fixture(scope="module")
def log():
    return eventlog.load(FIXTURE)


def test_reads_every_application_and_part(log):
    assert [(s.id, s.group, s.tasks) for s in log.stages] == [(0, "1", 3), (0, "2", 1)]
    first, second = log.stages
    assert first.exec_id == 7 and second.exec_id is None
    assert (first.t0, first.t1) == (1000.2, 1000.7)
    assert first.run_ms == [100.0, 200.0, 600.0]
    assert first.cpu_s == pytest.approx(0.5)
    assert first.shuffle_write_bytes == 6000 and first.input_bytes == 4096
    assert second.result_bytes == 2000 and second.output_bytes == 777


def test_sql_metrics_join_to_plan_nodes(log):
    first = log.stages[0]
    assert log.sql_sum(first, layers.TILE_JOIN_RE, "number of output rows") == 60
    assert log.sql_total(first, layers.PY_WORKER) == 15
    assert log.driver_sum({7}, r"Scan parquet", "number of files read") == 2
    assert log.driver_sum({8}, r"Scan parquet", "number of files read") == 0


def _spans():
    """Span ids are the job groups in the fixture: group "1" is the action
    that runs the tile join, group "2" a set-up build."""
    return [
        Span(0, "pipeline.tiling", None, 0, 999.9, 1001.0),
        Span(1, "operators.tile_join", 0, 0, 1000.15, 1000.8),
        Span(2, "pipeline.synth", None, -1, 1999.9, 2000.5),
        Span(3, "split.density", 0, 0, 999.95, 1000.1),
        Span(4, "operators.tile_join", 0, 0, 1000.1, 1000.15,
             attrs={"candidate_rows": 240.0, "input_rows": 50.0}),
    ]


def test_stage_spans_and_self_times(log):
    tree = layers.build_tree(_spans(), log)
    stage_spans = [s for s in tree.values() if "stage" in s.attrs]
    assert [(s.name, s.parent, s.t0, s.t1) for s in stage_spans] == [
        ("operators.tile_join", 1, 1000.2, 1000.7),
        ("pipeline.synth", 2, 2000.1, 2000.3)]
    selfs = layers.self_times(tree)
    assert selfs[1] == pytest.approx(0.65 - 0.5)
    assert selfs[0] == pytest.approx(1.1 - 0.65 - 0.15 - 0.05)
    assert layers.trace_problems(tree, [{"i": 0, "t": 1.1}]) == []


def test_trace_problems_catch_a_wrong_tree(log):
    tree = layers.build_tree(_spans(), log)
    # the root span is 1.1 s long; the operation measured 1.5 s
    assert layers.trace_problems(tree, [{"i": 0, "t": 1.5}]) == [
        "op 0: root span 1.1000 s, operation 1.5000 s"]
    # a traced operation with no root span, and a root span with no operation
    assert layers.trace_problems(tree, [{"i": 1, "t": 1.1}]) == [
        "op 1: 0 root spans", "op 0: root span without an operation"]
    # a child longer than its parent leaves the parent a negative self time
    tree[3].t1 = 1001.2
    bad = layers.trace_problems(tree, [{"i": 0, "t": 1.1}])
    assert bad and all("self time -" in b for b in bad)


def test_overlapping_stages_are_serialized():
    parent = Span(0, "queries", None, 0, 0.0, 10.0)
    child = Span(1, "operators.knn", 0, 0, 4.0, 6.0)
    a = Span(2, "queries", 0, 0, 1.0, 5.0, attrs={"stage": 1})
    b = Span(3, "queries", 0, 0, 2.0, 3.0, attrs={"stage": 1})
    c = Span(4, "queries", 0, 0, 5.5, 9.0, attrs={"stage": 1})
    d = Span(5, "queries", 0, 0, 9.5, 11.0, attrs={"stage": 1})
    tree = {s.id: s for s in (parent, child, a, b, c, d)}
    layers._clip_stage_spans(tree)
    assert (a.t0, a.t1) == (1.0, 4.0)      # stops where the real child starts
    assert (b.t0, b.t1) == (4.0, 4.0)      # fully covered: zero length
    assert (c.t0, c.t1) == (6.0, 9.0)      # starts after the real child
    assert (d.t0, d.t1) == (9.5, 10.0)     # ends with its parent
    assert [s.attrs["clipped_s"] for s in (a, b, c, d)] == [1.0, 1.0, 0.5, 1.0]
    # a's, b's and c's clipped time is still covered by a sibling; d's end
    # lies outside the parent
    assert [s.attrs["lost_s"] for s in (a, b, c, d)] == [0.0, 0.0, 0.0, 1.0]
    assert layers.clipped_by_layer(tree, "clipped_s") == {"queries": 3.5}
    assert layers.clipped_by_layer(tree, "lost_s") == {"queries": 1.0}
    selfs = layers.self_times(tree)
    assert sum(selfs.values()) == pytest.approx(parent.dur)
    assert min(selfs.values()) >= 0


def test_layer_metrics(log):
    spans = _spans()
    got = layers.analyze(spans, log, ops=[{"t": 1.1}], setups=1, ops_per_round=1)
    assert got["operators.tile_join.assigned_rows"] == 60
    assert got["operators.tile_join.candidate_rows"] == 240
    assert got["operators.tile_join.survivor_ratio"] == pytest.approx(0.25)
    assert got["operators.tile_join.fanout"] == pytest.approx(1.2)
    assert got["operators.tile_join.tasks"] == 3
    assert got["operators.tile_join.task_skew"] == pytest.approx(600 / 200)
    assert got["operators.tile_join.python_worker_s"] == pytest.approx(0.015)
    assert got["pipeline.synth.executor_cpu_s"] == pytest.approx(0.04)
    assert got["split.density.wall_s"] == pytest.approx(0.15)
    # outermost spans only: the lazy call and the action, not the stage
    assert got["operators.tile_join.wall_s"] == pytest.approx(0.05 + 0.65)
    assert got["operators.tile_join.self_s"] == pytest.approx(0.05 + 0.65)
    # the root's wall covers its children; its self time excludes them
    assert got["pipeline.tiling.wall_s"] == pytest.approx(1.1)
    assert got["pipeline.tiling.self_s"] == pytest.approx(1.1 - 0.65 - 0.15 - 0.05)


def test_per_layer_names_fit_the_contract():
    names = [m["name"] for m in layers.per_layer_metrics()]
    assert len(names) == len(set(names)) <= 128
    assert all(len(n) <= 64 for n in names)

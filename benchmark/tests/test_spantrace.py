"""Tests of the per-layer trace: interval arithmetic, event-log parsing and
attribution of jobs to layers.

``data/eventlog.jsonl`` is a Spark 4 event log captured from a small
traced run and trimmed to the events and fields the parser reads;
``data/spans.json`` holds the spans recorded in the same run:

    root (unattributed)
      pipeline   -- one job
        pairs    -- a pandas-UDF job, then a collect from checkpoint.py
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

import spantrace as st

DATA = Path(__file__).parent / "data"


def _spans(rows):
    return [st.Span(r["sid"], r["layer"], r["start"], r["end"], r["parent"])
            for r in rows]


def test_interval_arithmetic():
    assert st.union([(3, 4), (0, 2), (1, 2.5)]) == [(0, 2.5), (3, 4)]
    assert st.length([(0, 2), (1, 3), (5, 6)]) == 4
    assert st.subtract([(0, 10)], [(2, 3), (5, 7)]) == [(0, 2), (3, 5), (7, 10)]
    assert st.subtract([(0, 1)], [(0, 1)]) == []
    assert st.intersect([(0, 2), (3, 5)], [(1, 4)]) == [(1, 2), (3, 4)]


def test_self_time_is_span_minus_children():
    spans = [
        st.Span(0, "root", 0.0, 10.0),
        st.Span(1, "pairs", 1.0, 5.0, parent=0),
        st.Span(2, "cluster", 2.0, 3.0, parent=1),
        st.Span(3, "resolve", 6.0, 9.0, parent=0),
    ]
    own = st.self_intervals(spans)
    assert st.length(own[0]) == pytest.approx(10 - 4 - 3)
    assert st.length(own[1]) == pytest.approx(4 - 1)
    assert st.length(own[2]) == pytest.approx(1)
    # self times partition the root's wall time
    assert sum(st.length(v) for v in own.values()) == pytest.approx(10)


def test_layer_metrics_split_driver_time_and_rescan():
    spans = [
        st.Span(0, "root", 0.0, 10.0),
        st.Span(1, "pairs", 1.0, 5.0, parent=0),
        st.Span(2, "cluster", 2.0, 3.0, parent=1),
    ]
    log = st.EventLog(
        jobs={
            0: st.Job(1, False, 1.5, 2.5),  # the part under the child is not pairs' own
            1: st.Job(1, True, 4.0, 4.5),   # lineage rescan -> checkpoint
            2: st.Job(2, False, 2.0, 2.4),
        },
        stages={
            10: st.StageTotals(1, False, tasks=4, run_ms=800, shuffle_bytes=2_000_000,
                               py_bytes=3_000_000),
            11: st.StageTotals(1, True, tasks=2, run_ms=100),
            12: st.StageTotals(2, False, tasks=1, run_ms=300, spill_bytes=1_000_000),
            13: st.StageTotals(None, False, tasks=9, run_ms=9000),  # outside any span
        },
    )
    m = st.layer_metrics(spans, log)
    assert m["pairs"]["self_s"] == pytest.approx(3.0 - 0.5)
    assert m["pairs"]["driver_s"] == pytest.approx(3.0 - 0.5 - 0.5)
    assert m["checkpoint"]["self_s"] == pytest.approx(0.5)
    assert m["checkpoint"]["rescan_s"] == pytest.approx(0.5)
    assert m["checkpoint"]["driver_s"] == 0
    assert m["cluster"]["self_s"] == pytest.approx(1.0)
    assert m["cluster"]["driver_s"] == pytest.approx(0.6)
    assert m[st.ROOT_LAYER]["self_s"] == pytest.approx(6.0)
    assert (m["pairs"]["tasks"], m["checkpoint"]["tasks"], m["cluster"]["tasks"]) == (4, 2, 1)
    assert m["pairs"]["exec_s"] == pytest.approx(0.8)
    assert m["pairs"]["shuffle_mb"] == pytest.approx(2.0)
    assert m["pairs"]["py_mb"] == pytest.approx(3.0)
    assert m["cluster"]["spill_mb"] == pytest.approx(1.0)
    total = sum(v["self_s"] for v in m.values())
    assert total == pytest.approx(10.0)


def test_parse_captured_event_log():
    log = st.read_event_log(DATA / "eventlog.jsonl")
    spans = {j.span for j in log.jobs.values()}
    assert spans == {1, 2}
    assert all(j.end >= j.start > 0 for j in log.jobs.values())
    rescans = [j for j in log.jobs.values() if j.rescan]
    assert rescans and all(j.span == 2 for j in rescans)
    assert sum(s.tasks for s in log.stages.values()) > 0
    assert sum(s.py_bytes for s in log.stages.values()) > 0


def test_captured_run_attribution():
    spans = _spans(json.loads((DATA / "spans.json").read_text()))
    log = st.read_event_log(DATA / "eventlog.jsonl")
    m = st.layer_metrics(spans, log)
    wall = spans[0].end - spans[0].start
    assert sum(v["self_s"] for v in m.values()) == pytest.approx(wall)
    assert m["checkpoint"]["rescan_s"] > 0
    assert m["checkpoint"]["tasks"] > 0
    assert m["pairs"]["py_mb"] > 0  # the pandas UDF ran under the pairs span
    assert m["pipeline"]["py_mb"] == 0
    for layer in ("pairs", "pipeline"):
        assert 0 <= m[layer]["driver_s"] <= m[layer]["self_s"]
        assert m[layer]["tasks"] > 0


@pytest.mark.parametrize("stage, layer", [
    ("s1_mentions", "normalize"), ("s1_surfaces", "pairs"),
    ("s2_name_stats", "stats"), ("s2_lambda", "stats"),
    ("s3_blocked", "blocking"), ("s3_blocked_surf", "blocking"),
    ("s4_pairs", "pairs"), ("s6_components", "cluster"),
    ("s6_clusters_surf", "cluster"), ("s5_candidates", "resolve"),
    ("s5_assignments", "resolve"), ("s5_assignments_fit_params", "resolve"),
    ("s5_weights", "learning"), ("s5_param_tables", "param_learning"),
])
def test_stage_layers(stage, layer):
    assert st.stage_layer(stage) == layer


def test_leaf_layers_and_rescan_call_site():
    assert st.leaf_layer("dedup_lsh_pairs") == "ops.dedup"
    assert st.leaf_layer("ann_lsh_topk") == "ops.simsearch"
    assert st.leaf_layer("text_fingerprint") == "ops.textstats"
    assert st.leaf_layer("stat_lambda_potential") == "stats"
    with pytest.raises(KeyError):
        st.stage_layer("s9_unknown")
    with pytest.raises(KeyError):
        st.leaf_layer("rel_q1_pricing_summary")
    assert st.is_rescan("collect at /x/pboh_spark/checkpoint.py:121")
    assert not st.is_rescan("parquet at /x/pboh_spark/checkpoint.py:117")
    assert not st.is_rescan("collect at /x/pboh_spark/pipeline.py:40")
    assert not st.is_rescan(None)


def test_tracer_sets_and_restores_job_description():
    seen = []

    class FakeContext:
        def setJobDescription(self, value):
            seen.append(value)

    tr = st.Tracer(FakeContext())
    with tr.span("root"):
        with tr.span("pairs") as inner:
            inner.layer = "checkpoint"
    assert seen == ["bench-span:0", "bench-span:1", "bench-span:0", None]
    assert [(s.layer, s.parent) for s in tr.spans] == [("root", None), ("checkpoint", 0)]
    assert all(s.end >= s.start for s in tr.spans)

"""Harness tests: self-time arithmetic and the event-log parser.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import layertrace as T  # noqa: E402

LOG = os.path.join(HERE, "data", "eventlog.jsonl")


def _span(idx, name, parent, start, end, call=""):
    return T.Span(idx, name, parent, start, end, call=call, epoch=1000.0 + start)


def _pass():
    # pass 0..10: enricher 1..9 holds asof 2..5 and feature_dag 5..6;
    # sampling 9..9.5 runs after it; 0..1 and 9.5..10 are benchmark glue
    return [
        _span(0, "pass", None, 0.0, 10.0),
        _span(1, "pipeline.enricher", 0, 1.0, 9.0),
        _span(2, "joins.asof", 1, 2.0, 5.0),
        _span(3, "plans.feature_dag", 1, 5.0, 6.0),
        _span(4, "functions.sampling", 0, 9.0, 9.5, call=T.HEAP_SAMPLER),
    ]


COUNTS = {"dedup_in": 100.0, "dedup_out": 80.0, "heap_in": 50.0, "heap_kept": 10.0,
          "collect_rows": 12.0}


def test_self_time_is_duration_minus_direct_children():
    selfs = T.self_times(_pass())
    assert selfs == {0: 1.5, 1: 4.0, 2: 3.0, 3: 1.0, 4: 0.5}
    assert sum(selfs.values()) == pytest.approx(10.0)


def test_layer_metrics_sum_to_the_pass():
    m = T.layer_metrics(_pass(), {}, 0, COUNTS)
    assert m["pipeline.enricher.self_s"] == pytest.approx(4.0)
    assert m["joins.asof.self_s"] == pytest.approx(3.0)
    assert m["unattributed_s"] == pytest.approx(1.5)
    named = sum(m[f"{layer}.self_s"] for layer in T.LAYERS)
    assert named + m["unattributed_s"] == pytest.approx(m["pass_s"])
    assert m["functions.dedup.kept_ratio"] == pytest.approx(0.8)
    # no Filter rows logged for the sampler: every input row is a candidate
    assert m["functions.sampling.candidate_ratio"] == pytest.approx(5.0)
    assert m["pipeline.enricher.collect_rows"] == 12.0


def test_layer_metrics_take_counters_from_each_span_group():
    groups = {
        "span-2": T.GroupStats(jobs=2, exchanges=1, shuffle_write_bytes=10.0,
                               stage_tasks={7: [1.0, 1.0, 4.0]}),
        "span-4": T.GroupStats(jobs=1, filter_rows={"3": 20.0, "4": 15.0}),
    }
    m = T.layer_metrics(_pass(), groups, 0, COUNTS)
    assert (m["joins.asof.jobs"], m["joins.asof.exchanges"]) == (2, 1)
    assert m["joins.asof.task_skew"] == pytest.approx(4.0)
    # the largest Filter output of one SQL execution is the heap input
    assert m["functions.sampling.candidate_ratio"] == pytest.approx(2.0)


def test_parse_recorded_event_log():
    with open(LOG) as f:
        groups = T.parse_event_log(f)
    py, flt, un = groups["span-0"], groups["span-1"], groups[T.UNATTRIBUTED]
    assert py.jobs >= 1 and py.exchanges == 1
    assert py.shuffle_write_bytes > 0
    assert py.python_worker_s > 0
    assert py.executor_run_s > 0
    assert max(flt.filter_rows.values()) == 334  # ids 0..999 divisible by 3
    assert un.jobs >= 1
    assert set(groups) == {"span-0", "span-1", T.UNATTRIBUTED}

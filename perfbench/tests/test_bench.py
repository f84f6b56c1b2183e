"""Unit tests of the benchmark's own code. No Spark session: they pin the
reporting arithmetic, the span bookkeeping and the output checks.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import statistics
import threading

import pandas as pd
import pytest

from perfbench import checks
from perfbench.common import n_ops
from perfbench.eventlog import COUNTERS, counters_by_span
from perfbench.metrics import PER_LAYER, QUERY_LAYERS, SELF_TIMED
from perfbench.plans_workload import batch_split
from perfbench.stats import Ratio, Span, iqr_share, self_times, summarize
from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- reporting arithmetic -------------------------------------------------------
def test_summary_reports_median_max_and_sample_count():
    s = summarize([3.0, 1.0, 10.0, 2.0])
    assert (s.p50, s.max, s.n) == (2.5, 10.0, 4)
    assert summarize([7.0]) == summarize([7.0])
    with pytest.raises(ValueError):
        summarize([])


def test_ratio_keeps_its_bases():
    r = Ratio(3, 12)
    assert (r.num, r.den, r.value) == (3, 12, 0.25)
    # no work: 0/0 reads 0, and the bases still say why
    assert Ratio(0, 0).value == 0.0
    # error rate is failed over attempted, not over succeeded
    assert Ratio(1, 4).value == 0.25


def test_iqr_share_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.0, 10.5, 12.0, 9.5, 10.0, 11.5, 10.2, 9.8]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert iqr_share(vals) == pytest.approx((q3 - q1) / q2)
    assert iqr_share([5.0, 5.0, 5.0]) == 0.0


def test_n_ops_depends_only_on_seconds():
    assert n_ops(15, 7.5, 2, 8) == 2
    assert n_ops(60, 7.5, 2, 8) == 8
    assert n_ops(1, 7.5, 2, 8) == 2
    assert n_ops(100, 7.5, 2, 8) == 8


# -- span self times ------------------------------------------------------------
def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, "r")


def test_self_time_subtracts_children():
    spans = [_span(0, 0.0, 10.0), _span(1, 1.0, 3.0, 0), _span(2, 5.0, 6.0, 0)]
    own = self_times(spans)
    assert own == {0: pytest.approx(7.0), 1: pytest.approx(2.0), 2: pytest.approx(1.0)}


def test_self_time_counts_overlapping_children_once():
    # two commit threads inside one tick overlap in time
    spans = [_span(0, 0.0, 10.0), _span(1, 2.0, 6.0, 0), _span(2, 4.0, 8.0, 0)]
    assert self_times(spans)[0] == pytest.approx(4.0)


def test_self_time_clips_children_to_parent():
    spans = [_span(0, 0.0, 4.0), _span(1, 3.0, 9.0, 0), _span(2, 3.5, 4.5, 1)]
    own = self_times(spans)
    assert own[0] == pytest.approx(3.0)
    assert own[1] == pytest.approx(5.0)
    # grandchildren are not subtracted from the grandparent twice
    assert sum(own.values()) == pytest.approx(9.0)


def test_self_times_of_a_step_sum_to_the_tick():
    # steps plus overhead add up to the tick wall
    steps = [(0.5, 2.5), (2.5, 4.0), (4.0, 4.5)]
    spans = [_span(0, 0.0, 5.0)] + [_span(i + 1, a, b, 0) for i, (a, b) in enumerate(steps)]
    own = self_times(spans)
    assert sum(own[i + 1] for i in range(3)) + own[0] == pytest.approx(5.0)


# -- tracer -----------------------------------------------------------------------
class _Thing:
    def work(self, x):
        return x + 1


def test_tracer_nests_spans_and_restores_patched_methods():
    tr = Tracer(enabled=True)
    original = _Thing.work
    with tr.patch(_Thing, "work", lambda o, x: f"thing.work:{x}"):
        with tr.span("outer"):
            assert _Thing().work(1) == 2
    assert _Thing.work is original
    inner, outer = tr.spans
    assert inner.name == "thing.work:1" and inner.parent == outer.span_id
    assert outer.parent is None and outer.start <= inner.start <= inner.end <= outer.end


def test_tracer_parents_helper_threads_to_the_open_main_span():
    tr = Tracer(enabled=True)
    with tr.span("tick"):

        def commit():
            with tr.span("commit"):
                pass

        t = threading.Thread(target=commit)
        t.start()
        t.join(timeout=10)
    assert not t.is_alive()
    by_name = {s.name: s for s in tr.spans}
    assert by_name["commit"].parent == by_name["tick"].span_id


def test_disabled_tracer_records_nothing_and_patches_nothing():
    tr = Tracer(enabled=False)
    original = _Thing.work
    with tr.patch(_Thing, "work", lambda o, x: "w"), tr.span("x"):
        assert _Thing.work is original
    assert tr.spans == []


# -- output checks cannot pass vacuously --------------------------------------------
def test_compare_frames_catches_a_corrupted_row_count_and_value():
    want = pd.DataFrame({"a": [1, 2, 3], "b": [0.5, 0.25, 0.125]})
    assert checks.compare_frames("q", want.copy(), want) == []
    assert checks.compare_frames("q", want.iloc[1:], want)  # one row dropped
    corrupted = want.copy()
    corrupted.loc[1, "b"] = 0.26
    assert checks.compare_frames("q", corrupted, want)  # one value changed
    assert checks.compare_frames("q", want.rename(columns={"b": "c"}), want)
    # two empty frames agree on rows, columns and hash, yet prove nothing
    assert checks.compare_frames("q", want.iloc[:0], want.iloc[:0])


def test_compare_records_catches_one_corrupted_count():
    got = [{"tick": 1, "scheduled": 54, "new_unseen": 700}]
    assert checks.compare_records("t", got, [dict(got[0])], ("scheduled", "new_unseen")) == []
    bad = [dict(got[0], scheduled=55)]
    assert checks.compare_records("t", got, bad, ("scheduled", "new_unseen"))
    # nothing to compare is a failure, not a pass
    assert checks.compare_records("t", [], [], ("scheduled",))


def test_components_union_find_and_comparison():
    want = checks.components([(1, 2), (2, 3), (7, 8), (3, 1)])
    assert want == {frozenset({1, 2, 3}), frozenset({7, 8})}
    labels = pd.DataFrame({"doc_id": [1, 2, 3, 7, 8], "component_id": [1, 1, 1, 7, 7]})
    assert checks.compare_components(labels, want) == []
    merged = labels.assign(component_id=[1, 1, 1, 1, 7])
    assert checks.compare_components(merged, want)
    assert checks.compare_components(labels, set())


# -- workload inputs ------------------------------------------------------------------
def test_batch_split_is_balanced_seeded_and_a_partition():
    ids = list(range(500))
    a = batch_split(ids, seed=1, n_batches=8)
    assert sorted(x for b in a for x in b) == ids
    assert {len(b) for b in a} <= {62, 63}
    assert a == batch_split(ids, seed=1, n_batches=8)
    assert a != batch_split(ids, seed=2, n_batches=8)


# -- event log attribution ----------------------------------------------------------
def test_event_log_counters_attribute_jobs_to_the_innermost_span(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1500,
         "Stage IDs": [0]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 8000,
         "Stage IDs": [1]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "JVM GC Time": 100,
            "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 7,
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 40}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    spans = [_span(0, 1.0, 10.0), _span(1, 1.2, 2.0, 0)]
    got = counters_by_span(str(tmp_path), spans)
    assert got[1] == {"jobs": 1, "tasks": 1, "shuffle_write_bytes": 40,
                      "shuffle_read_bytes": 3, "spill_bytes": 12,
                      "task_cpu_s": 2.0, "gc_s": 0.1}
    assert got[0]["jobs"] == 1 and got[0]["tasks"] == 1
    assert set(got[0]) == set(COUNTERS)


# -- the metrics the code names are declared in BENCHMARK.json ------------------------
def test_every_derived_per_layer_name_is_declared_once():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    derived = (
        [f"{layer}.{q}.{m}" for q, layer in QUERY_LAYERS.items() for m in ("wall_s", "rows_out")]
        + [f"{name}.self_s" for name in SELF_TIMED]
        + [f"spark.{c}" for c in COUNTERS]
    )
    assert set(derived) <= set(PER_LAYER)
    assert {w["name"] for w in bench["workloads"]} == {"crawl", "plans"}


def test_query_layers_name_the_module_that_defines_each_query():
    from cinescrapers_spark.plans import registry

    reg = registry()
    for q, layer in QUERY_LAYERS.items():
        assert reg[q][0].__module__ == "cinescrapers_spark." + layer

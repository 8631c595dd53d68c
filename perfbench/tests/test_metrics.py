"""The benchmark's own metric code on small hand-made inputs.

    python3 -m pytest perfbench/tests -q
"""

import json
import os

import pandas as pd
import pytest

from perfbench import run
from perfbench.metrics import (
    Span,
    Tracer,
    _covered,
    event_log_lines,
    layer_self_times,
    pair_recall_precision,
    parse_event_log,
    RssSampler,
    self_times,
    tree_pids,
)
from perfbench.workloads import (
    WORKLOADS,
    CheckFailed,
    check_clusters,
    check_crawl_output,
)

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))


# -- spans -------------------------------------------------------------------

def test_self_time_subtracts_children():
    spans = [
        Span(0, "bench.rep", 1, None, 0.0, 10.0),
        Span(1, "frontier.schedule", 1, 0, 1.0, 4.0),
        Span(2, "bloom.probe", 1, 0, 5.0, 9.0),
        Span(3, "bloom.inner", 1, 2, 6.0, 7.0),
    ]
    st = self_times(spans)
    assert st == pytest.approx({0: 3.0, 1: 3.0, 2: 3.0, 3: 1.0})
    by_layer = layer_self_times(spans)
    assert by_layer == pytest.approx(
        {"bench": 3.0, "frontier": 3.0, "bloom": 4.0})
    # self times partition the root's wall time
    assert sum(by_layer.values()) == pytest.approx(10.0)


def test_covered_merges_overlapping_intervals():
    assert _covered([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert _covered([]) == 0.0


def test_tracer_records_nesting_trace_ids_and_hooks():
    ticks = iter(range(100))
    events = []
    tr = Tracer(clock=lambda: float(next(ticks)),
                on_enter=lambda n: events.append(("in", n)),
                on_exit=lambda p: events.append(("out", p)))
    with tr.span("bench.rep"):
        with tr.span("frontier.crawl"):
            pass
    with tr.span("bench.decompose"):
        pass
    rep, crawl_, dec = tr.spans
    assert (rep.parent, crawl_.parent, dec.parent) == (None, 0, None)
    assert rep.trace == crawl_.trace != dec.trace
    assert (crawl_.start, crawl_.end) == (1.0, 2.0)
    assert events == [
        ("in", "bench.rep"), ("in", "frontier.crawl"),
        ("out", "bench.rep"), ("out", None),
        ("in", "bench.decompose"), ("out", None),
    ]
    assert [d["name"] for d in tr.to_json()] == [
        "bench.rep", "frontier.crawl", "bench.decompose"]


def test_disabled_tracer_records_nothing():
    calls = []
    tr = Tracer(enabled=False, on_enter=calls.append, on_exit=calls.append)
    with tr.span("frontier.crawl") as sp:
        assert sp is None
    assert tr.spans == [] and calls == []


# -- pair recall / precision -------------------------------------------------

def test_pair_recall_precision():
    labels = {0: 7, 1: 7, 2: 7, 3: 8, 4: 8, 5: 9}
    # true pairs: 01 02 12 34
    assert pair_recall_precision([[0, 1], [3, 4]], labels) == (0.5, 1.0)
    r, p = pair_recall_precision([[0, 1, 2], [3, 4], [2, 5]], labels)
    assert (r, p) == (1.0, pytest.approx(4 / 5))
    # overlapping clusters count a pair once
    assert pair_recall_precision([[0, 1], [1, 0]], labels) == (0.25, 1.0)
    assert pair_recall_precision([], {0: 1, 1: 2}) == (1.0, 1.0)


# -- event log ---------------------------------------------------------------

def _task(stage, run_ms, shuffle=0, spill=0, reason="Success"):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": reason},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


def _events():
    return [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "bloom.probe"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
        _task(0, 100, shuffle=10),
        _task(0, 100, shuffle=20),
        _task(0, 300, spill=5),
        _task(0, 900, reason="ExceptionFailure"),
        _task(1, 10),
        _task(1, 40),  # stage 1: slowest task under the skew floor
        _task(2, 70, shuffle=1000),
    ]


def test_parse_event_log_attributes_stages_to_job_groups():
    groups = parse_event_log(json.dumps(e) for e in _events())
    g = groups["bloom.probe"]
    assert (g.jobs, g.tasks, g.tasks_failed) == (1, 6, 1)
    assert (g.shuffle_write_bytes, g.spill_bytes) == (30, 5)
    assert g.task_skew == pytest.approx(3.0)  # 300 / median(100,100,300)
    other = groups[""]
    assert (other.jobs, other.shuffle_write_bytes) == (1, 1000)
    assert other.task_skew == 0.0  # a single-task stage has no skew


def test_event_log_lines_reads_plain_and_rolling_logs(tmp_path):
    lines = [json.dumps(e) + "\n" for e in _events()]
    (tmp_path / "local-1").write_text("".join(lines[:2]))
    rolled = tmp_path / "eventlog_v2_local-2"
    rolled.mkdir()
    (rolled / "events_10_local-2").write_text(lines[4])
    (rolled / "events_2_local-2").write_text(lines[3])
    (rolled / "appstatus_local-2").write_text("")
    assert list(event_log_lines(str(tmp_path))) == lines[:2] + [
        lines[3], lines[4]]


# -- resident memory ---------------------------------------------------------

def test_tree_pids_lists_root_and_descendants_only():
    table = {1: (0, 100), 2: (1, 50), 3: (2, 25), 4: (0, 1000)}
    assert sorted(tree_pids(1, table)) == [1, 2, 3]
    assert sorted(tree_pids(2, table)) == [2, 3]
    assert tree_pids(9, table) == []


def test_rss_sampler_keeps_per_process_peaks():
    sampler = RssSampler()
    sampler.sample()
    first = sampler.peak_kib
    assert first > 0
    sampler._peaks[-1] = 10  # a process that has since exited
    sampler.sample()
    assert sampler.peak_kib >= first + 10


# -- output checks -----------------------------------------------------------

def _crawl_table():
    rows = [
        (0, "http://h1.test/a/1.htm", "h1.test", 0),
        (0, "http://h0.test/a/2.htm", "h0.test", 1),
        (1, "http://h0.test/a/3.htm", "h0.test", 0),
    ]
    pdf = pd.DataFrame(rows, columns=["round", "url", "host", "priority"])
    pdf["fetch_order"] = [1, 2, 3]
    return pdf


def test_crawl_output_check_accepts_valid_table():
    pdf = _crawl_table()
    seeds = set(pdf.loc[pdf["round"] == 0, "url"])
    check_crawl_output(pdf, {"h0.test": 1, "h1.test": 1}, seeds, rounds=2)


@pytest.mark.parametrize("breakage, message", [
    (lambda p, b: b.update({"h1.test": 0}), "budget"),
    (lambda p, b: p.loc.__setitem__((2, "url"), p.loc[1, "url"]), "twice"),
    (lambda p, b: p.__setitem__("fetch_order", [2, 1, 3]), "fetch_order"),
    (lambda p, b: p.loc.__setitem__((2, "round"), 5), "round"),
])
def test_crawl_output_check_rejects(breakage, message):
    pdf = _crawl_table()
    seeds = set(pdf.loc[pdf["round"] == 0, "url"])
    budgets = {"h0.test": 1, "h1.test": 1}
    breakage(pdf, budgets)
    with pytest.raises(CheckFailed, match=message):
        check_crawl_output(pdf, budgets, seeds, rounds=2)


def test_cluster_check():
    check_clusters({3: [3, 5], 4: [4, 6, 7]}, n_docs=8)
    with pytest.raises(CheckFailed, match="members"):
        check_clusters({0: list(range(7))}, n_docs=8)
    with pytest.raises(CheckFailed, match="seed"):
        check_clusters({3: [5, 3]}, n_docs=8)


# -- BENCHMARK.json matches what the command prints --------------------------

def test_benchmark_json_matches_run():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} \
        == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} \
        == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)

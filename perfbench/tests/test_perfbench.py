"""Tests of the benchmark's own logic (no Spark session needed).

Run from the repo root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json

import duckdb
import numpy as np
import pytest

from perfbench import fixtures
from perfbench.layers import SESSION_METRICS, layer_metrics, metric_names, per_op_split
from perfbench.stats import tail
from perfbench.trace import (
    Recorder,
    Span,
    attribute_jobs,
    instrument,
    parse_event_log,
    self_times,
    union_length,
)

# --- tail percentile ---------------------------------------------------------


def test_tail_leaves_exactly_ten_samples_beyond():
    samples = [float(i) for i in range(1, 101)]  # 1..100
    value, pct = tail(samples)
    assert (value, pct) == (90.0, 90.0)
    assert sum(1 for s in samples if s > value) == 10


def test_tail_needs_more_than_twenty_samples():
    samples = [float(i) for i in range(21, 0, -1)]
    value, pct = tail(samples)
    assert value == 11.0 and pct == pytest.approx(100.0 * 11 / 21)
    assert sum(1 for s in samples if s > value) == 10


def test_tail_is_order_independent():
    rng = np.random.default_rng(0)
    samples = list(rng.exponential(1.0, 57))
    assert tail(samples) == tail(sorted(samples, reverse=True))
    value, _ = tail(samples)
    assert sum(1 for s in samples if s > value) == 10


def test_no_tail_without_enough_samples():
    # With 20 samples or fewer the 10th-from-top sample is at or below the
    # median, so there is no tail to report.
    assert tail([]) is None
    assert tail([3.0, 1.0, 2.0]) is None
    assert tail([float(i) for i in range(20)]) is None


# --- spans and self time -----------------------------------------------------


def test_self_time_subtracts_nested_children():
    spans = [
        Span(0, "op:q", None, 0.0, 10.0),
        Span(1, "build", 0, 1.0, 4.0),
        Span(2, "operators.dedup.f", 1, 1.5, 2.5),
        Span(3, "operators.text.g", 1, 2.0, 3.0),  # overlaps its sibling
        Span(4, "action", 0, 5.0, 9.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 3.0 - 4.0)
    assert st[1] == pytest.approx(3.0 - 1.5)  # children cover 1.5..3.0
    assert st[2] == pytest.approx(1.0)
    assert st[4] == pytest.approx(4.0)


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert union_length([]) == 0.0


def test_recorder_nests_spans_by_call_stack():
    ticks = iter(range(100))
    rec = Recorder(clock=lambda: float(next(ticks)))
    with rec.span("op:a"):
        with rec.span("build"):
            pass
        with rec.span("action"):
            pass
    names = [(s.name, s.parent) for s in rec.spans]
    assert names == [("op:a", None), ("build", 0), ("action", 0)]
    assert all(s.end > s.start for s in rec.spans)


def test_instrument_wraps_and_restores(monkeypatch):
    import sys
    import types

    mod = types.ModuleType("ddataframeoperation_spark.fake_layer")

    def helper(x):
        return x + 1

    def outer(x):
        return mod.helper(x) * 2

    helper.__module__ = outer.__module__ = mod.__name__
    mod.helper, mod.outer, mod.__all__ = helper, outer, ["helper", "outer"]
    user = types.ModuleType("ddataframeoperation_spark.fake_user")
    user.helper = helper  # a ``from fake_layer import helper`` binding
    monkeypatch.setitem(sys.modules, mod.__name__, mod)
    monkeypatch.setitem(sys.modules, user.__name__, user)

    rec = Recorder()
    restore = instrument(rec, {mod.__name__: "operators.fake"})
    assert mod.outer(1) == 4 and user.helper(1) == 2
    assert [s.name for s in rec.spans] == [
        "operators.fake.outer", "operators.fake.helper", "operators.fake.helper"
    ]
    assert rec.spans[1].parent == rec.spans[0].id
    restore()
    assert mod.helper is helper and user.helper is helper and mod.outer is outer


# --- event log: attribution and task metrics ----------------------------------

T = 1_700_000_000.0  # epoch seconds of the canned run


def _ms(s: float) -> int:
    return int(round((T + s) * 1000))


def _job(job_id, submit, end, stages):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": _ms(submit),
         "Stage IDs": stages},
        {"Event": "SparkListenerJobEnd", "Job ID": job_id, "Completion Time": _ms(end),
         "Job Result": {"Result": "JobSucceeded"}},
    ]


def _task_end(stage, launch, finish, run_ms, **m):
    metrics = {
        "Executor Run Time": run_ms,
        "Executor CPU Time": run_ms * 500_000,  # half the run time, in ns
        "JVM GC Time": m.get("gc", 0),
        "Executor Deserialize Time": 10,
        "Result Serialization Time": 0,
        "Disk Bytes Spilled": m.get("spill", 0),
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": m.get("sr", 0)},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": m.get("sw", 0)},
        "Input Metrics": {"Bytes Read": m.get("ib", 0), "Records Read": m.get("ir", 0)},
        "Output Metrics": {"Bytes Written": m.get("ob", 0), "Records Written": m.get("orows", 0)},
    }
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": "Success" if not m.get("failed") else "ExceptionFailure"},
        "Task Info": {"Launch Time": _ms(launch), "Finish Time": _ms(finish),
                      "Failed": bool(m.get("failed")), "Getting Result Time": 0},
        "Task Metrics": metrics,
    }


def _canned():
    spans = [
        Span(0, "op:q", None, T + 0.0, T + 10.0),
        Span(1, "build", 0, T + 1.0, T + 4.0),
        Span(2, "operators.dedup.connected_components", 1, T + 2.0, T + 3.0),
        Span(3, "catalog.read_fixture_table", 1, T + 1.0, T + 1.2),
        Span(4, "action", 0, T + 5.0, T + 9.0),
    ]
    events = []
    events += _job(0, 2.1, 2.6, [0])           # inside the dedup operator, in build
    events += _job(1, 3.2, 3.6, [1])           # directly in build
    events += _job(2, 5.5, 8.5, [1, 2, 3])     # the final action; stage 1 is skipped
    events += [
        _task_end(0, 2.2, 2.5, 200, ir=100, ib=4000),
        _task_end(1, 3.3, 3.5, 150, sw=900),
        _task_end(2, 5.6, 6.6, 800, sr=900, gc=40, spill=64),
        _task_end(3, 6.7, 8.4, 1500, ir=1000, ib=50_000, ob=777, orows=11),
        _task_end(3, 6.7, 7.0, 100, failed=True),
    ]
    return spans, [json.dumps(e) for e in events]


def test_jobs_attribute_to_the_innermost_open_span():
    spans, lines = _canned()
    log = parse_event_log(lines)
    attribute_jobs(log, spans)
    assert {j.id: j.span for j in log.jobs.values()} == {0: 2, 1: 1, 2: 4}
    # Stage 1 ran once, under job 1; job 2 lists it but skipped it.
    assert [t.job for t in log.tasks] == [0, 1, 2, 2, 2]


def test_task_metrics_aggregate_per_layer():
    spans, lines = _canned()
    m = layer_metrics(
        spans, parse_event_log(lines), passes=1, cores=4,
        session={"session.import_s": 1.0, "session.get_spark_s": 2.0,
                 "session.first_action_s": 3.0, "session.peak_rss_mb": 900.0},
        status_failed=0, pass_s=10.0,
    )
    assert list(m) == metric_names()
    assert m["queries.build_s"] == pytest.approx(3.0)
    assert m["queries.build_jobs"] == 2 and m["queries.build_tasks"] == 2
    # Jobs cover 2.1-2.6 and 3.2-3.6 of the 1.0-4.0 build.
    assert m["queries.build_driver_s"] == pytest.approx(3.0 - 0.9, abs=2e-3)
    assert m["operators.dedup.jobs"] == 1 and m["operators.dedup.calls"] == 1
    assert m["operators.dedup.self_s"] == pytest.approx(1.0)
    assert m["exec.action_s"] == pytest.approx(4.0)
    assert m["exec.jobs"] == 1 and m["exec.tasks"] == 3 and m["exec.stages"] == 2
    assert m["exec.executor_run_s"] == pytest.approx(2.4)
    assert m["exec.executor_cpu_s"] == pytest.approx(1.2)
    assert m["exec.gc_s"] == pytest.approx(0.04)
    assert m["exec.shuffle_read_bytes"] == 900 and m["exec.shuffle_write_bytes"] == 0
    assert m["exec.spill_bytes"] == 64 and m["exec.failed_tasks"] == 1
    assert m["exec.core_busy_frac"] == pytest.approx(2.4 / (4.0 * 4))
    # Task wall 1.0 s, ran 0.8 s, deserialized 0.01 s -> 0.19 s waiting.
    assert m["exec.scheduler_delay_s"] == pytest.approx(0.19 + 0.19 + 0.19, abs=1e-6)
    assert m["catalog.scan_rows"] == 1100 and m["catalog.scan_bytes"] == 54_000
    assert m["catalog.scan_task_s"] == pytest.approx(1.7)
    assert m["catalog.load_s"] == pytest.approx(0.2)
    assert m["compat.rows_written"] == 11 and m["compat.bytes_written"] == 777
    assert m["session.get_spark_s"] == 2.0


def test_per_operation_build_and_action_split():
    spans, lines = _canned()
    log = parse_event_log(lines)
    attribute_jobs(log, spans)
    assert per_op_split(spans, log) == {
        "q": {"build_s": pytest.approx(3.0), "action_s": pytest.approx(4.0),
              "build_jobs": 2, "action_jobs": 1, "build_sites": [""]},
    }


def test_per_pass_normalization():
    spans, lines = _canned()
    args = dict(cores=4, session=dict.fromkeys(SESSION_METRICS, 1.0),
        status_failed=0, pass_s=5.0)
    one = layer_metrics(spans, parse_event_log(lines), passes=1, **args)
    two = layer_metrics(spans, parse_event_log(lines), passes=2, **args)
    assert two["exec.tasks"] == one["exec.tasks"] / 2
    assert two["exec.core_busy_frac"] == one["exec.core_busy_frac"]
    assert two["session.import_s"] == one["session.import_s"]


# --- replica key shift -----------------------------------------------------------

JOINS = {
    "lineitem_orders": "SELECT count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey",
    "orders_customer": "SELECT count(*) FROM orders JOIN customer ON o_custkey = c_custkey",
    "lineitem_part": "SELECT count(*) FROM lineitem JOIN part ON l_partkey = p_partkey",
    "lineitem_supplier": "SELECT count(*) FROM lineitem JOIN supplier ON l_suppkey = s_suppkey",
    "star": (
        "SELECT count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey"
    ),
}


def _counts(tables) -> dict[str, int]:
    con = duckdb.connect()
    for name, t in tables.items():
        con.register(name, t)
    return {k: con.execute(q).fetchone()[0] for k, q in JOINS.items()}


@pytest.mark.parametrize("factor,offset", [(3, 0), (4, 123_450)])
def test_replica_join_cardinalities_are_exactly_n_times(factor, offset):
    base = fixtures.tpch_tables(np.random.default_rng(7), 0.001)
    rep = fixtures.replicate(base, factor, offset)
    b, r = _counts(base), _counts(rep)
    assert all(v > 0 for v in b.values())
    assert r == {k: factor * v for k, v in b.items()}
    for name in fixtures.SHIFTED_TABLES:
        assert rep[name].num_rows == factor * base[name].num_rows
    for name in fixtures.DIMENSION_TABLES:
        assert rep[name].equals(base[name])
    keys = rep["orders"]["o_orderkey"].to_numpy()
    assert len(np.unique(keys)) == len(keys)


def test_fixtures_are_deterministic_per_seed():
    a = fixtures.documents_table(np.random.default_rng([5, 0]), 300)
    b = fixtures.documents_table(np.random.default_rng([5, 0]), 300)
    c = fixtures.documents_table(np.random.default_rng([6, 0]), 300)
    assert a.equals(b) and not a.equals(c)
    texts = a["text"].to_pylist()
    dups = [t for t in texts if t.endswith(" dup")]
    assert len(dups) == 300 // 20
    # A copy's source may itself be replaced later, as in the fixtures, but
    # most copies keep theirs.
    assert sum(t[: -len(" dup")] in texts for t in dups) >= 0.8 * len(dups)
    words = [len(t.split()) for t in texts if not t.endswith(" dup")]
    assert min(words) >= 10 and max(words) <= 100


# --- node output comparison --------------------------------------------------


def test_written_rows_compare_as_multisets(tmp_path):
    from perfbench.workloads import csv_lines

    def output(name: str, *parts: str) -> dict:
        model = tmp_path / name / "model"
        model.mkdir(parents=True)
        for i, text in enumerate(parts):
            (model / f"part-{i:05d}").write_text(text)
        return {"DataLocation": str(model)}

    a = csv_lines(output("a", "1,x\n2,y\n2,y\n"))
    reordered = csv_lines(output("b", "2,y\n", "1,x\n2,y\n"))
    other_counts = csv_lines(output("c", "2,y\n1,x\n1,x\n"))
    assert a == reordered
    assert a != other_counts

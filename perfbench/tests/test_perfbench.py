"""The benchmark's own tests: percentiles, interval arithmetic and driver_s,
the event-log parser, and seed determinism of the inputs.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import inputs  # noqa: E402
import measure  # noqa: E402
import spans  # noqa: E402


# --- percentiles ----------------------------------------------------------------


def test_percentile_matches_numpy_linear():
    rng = random.Random(7)
    for n in (1, 2, 5, 17, 100):
        xs = [rng.uniform(0, 1000) for _ in range(n)]
        for q in (0, 10, 25, 50, 75, 90, 99, 100):
            assert measure.percentile(xs, q) == pytest.approx(np.percentile(xs, q), abs=1e-9)


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        measure.percentile([], 50)
    with pytest.raises(ValueError):
        measure.percentile([1.0], 101)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert measure.tail_percentile(10) is None
    assert measure.tail_percentile(20) == 50
    assert measure.tail_percentile(100) == 90
    for n in range(11, 400):
        p = measure.tail_percentile(n)
        xs = list(range(n))
        beyond = sum(x > measure.percentile(xs, p) for x in xs)
        assert beyond >= 10, (n, p)
        assert n * (100 - p - 1) < 10 * 100  # the next percentile has fewer


def test_summary():
    xs = [float(x) for x in range(1, 22)]
    s = measure.summary(xs)
    assert s["n"] == 21 and s["p50"] == 11.0 and s["tail_pct"] == 52
    assert s["tail"] == pytest.approx(np.percentile(xs, 52))
    assert "tail" not in measure.summary(xs[:10])


# --- intervals, self time and driver_s --------------------------------------------


def test_interval_union_subtract_overlap():
    assert spans.merge([(3, 4), (1, 2), (1.5, 2.5), (5, 5)]) == [(1, 2.5), (3, 4)]
    assert spans.length([(0, 2), (1, 3), (10, 11)]) == 4
    assert spans.subtract((0, 10), [(2, 3), (2.5, 4), (9, 12)]) == [(0, 2), (4, 9)]
    assert spans.subtract((0, 1), []) == [(0, 1)]
    assert spans.overlap([(0, 5), (6, 8)], [(4, 7)]) == 2
    assert spans.overlap([(0, 1)], [(2, 3)]) == 0


def _span(i, parent, t0, t1, jobs=()):
    s = spans.Span(i, f"s{i}", parent, 0, "loop", t0, t1)
    s.job_intervals = list(jobs)
    return s


def test_driver_s_is_self_time_minus_own_jobs():
    # root 0..10 with children 2..4 and 6..9; own jobs 0..1 and 1.5..2.5
    # (the part inside the first child is the child's time, not the root's)
    root = _span(0, None, 0, 10, jobs=[(0, 1), (1.5, 2.5)])
    a = _span(1, 0, 2, 4, jobs=[(2.5, 3.5)])
    b = _span(2, 0, 6, 9, jobs=[(6, 7), (6.5, 8)])  # overlapping jobs count once
    assert spans.self_time(root, [a, b]) == 5
    assert spans.driver_s(root, [a, b]) == pytest.approx(5 - 1.5)
    assert spans.driver_s(a, []) == pytest.approx(1)
    assert spans.driver_s(b, []) == pytest.approx(1)
    # self times of the tree add up to the root's wall
    assert spans.self_time(root, [a, b]) + a.wall_s + b.wall_s == root.wall_s


def test_tracer_nests_and_records_untraced():
    t = spans.Tracer()
    t.phase = "loop"
    t.op = 3
    with t.span("outer") as o:
        with t.span("inner") as i:
            pass
    assert i.parent == o.id and o.parent is None and i.op == 3
    assert o.t0 <= i.t0 <= i.t1 <= o.t1
    assert [s.name for s in t.roots("loop")] == ["outer"]
    assert t.children() == {o.id: [i]}


# --- event log --------------------------------------------------------------------


def _task(stage, run_ms=10, cpu_ns=5_000_000, sent=0, shuffle=0, spill=0, read=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": [
            {"Name": "data sent to Python workers", "Update": str(sent)},
        ]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": 1,
            "Result Size": 100, "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": read, "Records Read": 3},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle},
        },
    }


def _events(tmp_path):
    mb = 1024 * 1024
    ev = [
        {"Event": "SparkListenerLogStart"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "span-0"}},
        _task(0, sent=mb, read=2 * mb),
        _task(0, sent=mb),
        _task(1, shuffle=mb, spill=mb),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        # job 1 lists stage 1 again (skipped); its tasks are only stage 2
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 4000,
         "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "span-1"}},
        _task(2),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 5000},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 6000,
         "Stage IDs": [3], "Properties": {}},
        _task(3),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 6500},
    ]
    path = tmp_path / "events_1_app"
    path.write_text("".join(json.dumps(e) + "\n" for e in ev))
    return [str(path)]


def test_parse_event_log_counters(tmp_path):
    jobs = spans.parse_event_log(_events(tmp_path))
    assert sorted(jobs) == [0, 1, 2]
    j0 = jobs[0]
    assert j0["group"] == "span-0" and (j0["start"], j0["end"]) == (1.0, 3.0)
    assert j0["stage_ids"] == {0, 1} and j0["tasks"] == 3
    assert j0["python_mb_sent"] == pytest.approx(2.0)
    assert j0["input_mb"] == pytest.approx(2.0)
    assert j0["shuffle_write_mb"] == pytest.approx(1.0)
    assert j0["spill_mb"] == pytest.approx(1.0)
    assert j0["executor_run_s"] == pytest.approx(0.03)
    assert j0["executor_cpu_s"] == pytest.approx(0.015)
    assert jobs[1]["stage_ids"] == {2} and jobs[1]["tasks"] == 1
    assert jobs[2]["group"] is None


def test_attribute_charges_jobs_to_spans(tmp_path):
    t = spans.Tracer()
    with t.span("root"):
        pass
    with t.span("other"):
        pass
    root, other = t.spans
    root.t0, root.t1 = 0.5, 3.5      # job 0 runs 1..3: driver_s = 3 - 2
    other.t0, other.t1 = 3.9, 5.2    # job 1 runs 4..5
    untagged = spans.attribute(t, spans.parse_event_log(_events(tmp_path)))
    assert untagged == 1
    assert root.counters["jobs"] == 1 and root.counters["stages"] == 2
    assert root.counters["tasks"] == 3
    assert root.counters["driver_s"] == pytest.approx(1.0)
    assert other.counters["driver_s"] == pytest.approx(0.3)
    assert other.counters["self_s"] == pytest.approx(1.3)


def test_event_log_files_orders_rolled_parts(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    for n in (10, 2, 1):
        (d / f"events_{n}_local-1").write_text("")
    (d / "appstatus_local-1").write_text("")
    got = [os.path.basename(p) for p in spans.event_log_files(str(tmp_path))]
    assert got == ["events_1_local-1", "events_2_local-1", "events_10_local-1"]


# --- seed determinism -------------------------------------------------------------


def _docs(seed: int, n: int = 300) -> dict[int, str]:
    """Rows from the library's generator (pure in row index and seed)."""
    from search_engine_spark.sources.corpus import _gen_rows

    pdf = _gen_rows(0, n, inputs.VOCAB, seed)
    return {i: c for i, c in enumerate(pdf.content)}


def test_streams_are_seed_determined():
    docs = _docs(5)
    v1, v2 = inputs.Vocabulary(docs), inputs.Vocabulary(dict(reversed(list(docs.items()))))
    assert v1.strata == v2.strata
    assert inputs.query_ops(docs, v1, 9, 60) == inputs.query_ops(docs, v2, 9, 60)
    assert inputs.query_ops(docs, v1, 9, 60) != inputs.query_ops(docs, v1, 10, 60)
    base = {d: c for d, c in docs.items() if d < 200}
    batch = inputs.Vocabulary({d: c for d, c in docs.items() if d >= 200})
    a = inputs.ingest_ops(inputs.Vocabulary(base), [batch], 4, 2, 8, 2)
    assert a == inputs.ingest_ops(inputs.Vocabulary(base), [batch], 4, 2, 8, 2)
    assert a != inputs.ingest_ops(inputs.Vocabulary(base), [batch], 5, 2, 8, 2)
    fresh = [q["terms"][0] for q in a[0]["serve"][0] if q["strata"] == ["fresh"]]
    assert fresh and all(t not in inputs.Vocabulary(base).df for t in fresh)


def test_query_mix_per_block():
    docs = _docs(6)
    ops = inputs.query_ops(docs, inputs.Vocabulary(docs), 1, 30)
    for b in range(3):
        assert tuple(op["kind"] for op in ops[10 * b: 10 * b + 10]) == inputs.QUERY_BLOCK
    ranked = [op["strata"] for op in ops if op["kind"] == "daat"]
    assert ranked[:6] == [list(s) for s in inputs.RANKED_STRATA]
    for op in ops:
        if op["kind"] == "substring":
            assert 6 <= len(op["needle"]) <= 12


def test_fingerprint():
    docs = _docs(3, 50)
    assert inputs.fingerprint(docs) == inputs.fingerprint(dict(sorted(docs.items(), reverse=True)))
    assert inputs.fingerprint(docs) != inputs.fingerprint(_docs(4, 50))


@pytest.fixture(scope="module")
def spark():
    from search_engine_spark.session import get_spark

    s = get_spark(app="perfbench-tests", master="local[2]")
    yield s
    s.stop()


def test_corpus_is_seed_determined(spark):
    def sha(seed):
        rows = inputs.corpus_rows(spark, 600, seed)
        big = inputs.big_docs(rows, 0, 2, 100)
        pdf = rows.select("docId", "content").unionByName(
            big.select("docId", "content")).toPandas()
        return inputs.fingerprint(dict(zip(pdf.docId.tolist(), pdf.content.tolist())))

    assert sha(1) == sha(1)
    assert sha(1) != sha(2)

"""Unit tests for the benchmark's own helpers (no Spark needed).

Run: python3 -m pytest perfbench -q
"""

import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from spans import (
    Span,
    Tracer,
    covered,
    percentile,
    self_ms,
    span_counters,
    summarize,
    tail_percentile,
)


def test_percentile_nearest_rank():
    xs = list(range(1, 101))          # 1..100
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 99) == 99
    assert percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize("n, want", [
    (19, None),       # the median has only 9 samples above it
    (20, 50.0),
    (99, 50.0),       # p90 would leave 9
    (100, 90.0),
    (999, 90.0),
    (1000, 99.0),
    (10000, 99.9),
])
def test_tail_percentile_needs_ten_beyond(n, want):
    got = tail_percentile(list(range(n)))
    assert (got and got[0]) == want or (got is None and want is None)
    if got is not None:
        pct, value = got
        assert n - (value + 1) >= 10   # samples strictly above the value


def test_summarize_reports_sample_count():
    s = summarize([5.0] * 15 + [1.0] * 5)
    assert s == {"n": 20, "p50": 5.0, "tail_pct": 50.0, "tail": 5.0}
    assert summarize([3.0, 1.0]) == {"n": 2, "p50": 2.0}


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 10), (5, 15), (20, 30)], 0, 100) == 25
    assert covered([(0, 10), (5, 15)], 8, 12) == 4
    assert covered([(50, 60)], 0, 10) == 0
    assert covered([], 0, 10) == 0


def test_self_time_subtracts_children_once():
    spans = [
        Span("parent", None, 0.0, 100.0),
        Span("a", 0, 10.0, 40.0),
        Span("b", 0, 30.0, 50.0),     # overlaps a: union is 10..50
        Span("grandchild", 1, 15.0, 20.0),
    ]
    assert self_ms(spans, 0) == 60.0
    assert self_ms(spans, 1) == 25.0
    assert self_ms(spans, 3) == 5.0


def _job(start, end, stages):
    return {"start_ms": start, "end_ms": end, "stages": {
        sid: {"tasks": t, "exec_run_ms": 10 * t, "exec_cpu_ms": 5.0 * t,
              "shuffle_read_bytes": 100, "shuffle_write_bytes": 200}
        for sid, t in stages.items()}}


def test_job_window_counts_jobs_from_other_threads():
    """Jobs submitted from a pool thread inside the span belong to it;
    jobs before and after it do not."""
    lock = threading.Lock()
    next_id = [0]

    def submit():                     # what the scheduler does per job
        with lock:
            next_id[0] += 1

    tracer = Tracer(next_job_id=lambda: next_id[0])
    submit()                          # job 0: before the span
    with tracer.span("layer.op"):
        submit()                      # job 1: caller's thread
        with ThreadPoolExecutor(max_workers=2) as pool:
            for fut in [pool.submit(submit) for _ in range(2)]:
                fut.result()          # jobs 2, 3: pool threads
    submit()                          # job 4: after the span
    s = tracer.spans[0]
    assert (s.job_lo, s.job_hi) == (1, 4)

    t0 = s.start_ms
    jobs = {
        0: _job(t0 - 50, t0 - 10, {0: 4}),
        1: _job(t0 + 1, t0 + 2, {1: 2}),
        2: _job(t0 + 1, t0 + 3, {2: 3, 1: 2}),  # stage 1 shared
        3: _job(t0 + 2, t0 + 4, {3: 1}),
        4: _job(t0 + 100, t0 + 200, {4: 8}),
    }
    c = span_counters(s, jobs)
    assert c["jobs"] == 3
    assert c["stages"] == 3
    assert c["tasks"] == 2 + 3 + 1
    assert c["exec_run_ms"] == 60
    assert c["shuffle_write_bytes"] == 600
    # jobs 1-3 cover t0+1..t0+4, clipped to the span's own interval
    busy = covered([(t0 + 1, t0 + 4)], s.start_ms, s.end_ms)
    assert c["driver_ms"] == pytest.approx(c["wall_ms"] - busy)


def test_nested_span_windows_and_resolve():
    next_id = [0]
    tracer = Tracer(next_job_id=lambda: next_id[0])
    with tracer.span("outer"):
        next_id[0] += 1
        with tracer.span("inner"):
            next_id[0] += 2
    outer, inner = tracer.spans
    assert inner.parent == 0 and outer.parent is None
    assert (outer.job_lo, outer.job_hi) == (0, 3)
    assert (inner.job_lo, inner.job_hi) == (1, 3)
    tracer.resolve(fetch=lambda j: _job(None, None, {j: 1}))
    per = tracer.per_span()
    assert per["outer"]["jobs"] == [3] and per["inner"]["jobs"] == [2]
    assert per["outer"]["self_ms"][0] <= per["outer"]["wall_ms"][0]


def test_disabled_tracer_records_nothing():
    tracer = Tracer(enabled=False)
    with tracer.span("x") as s:
        assert s is None
    assert tracer.spans == []


def test_wrap_spans_calls_and_undo():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    tracer = Tracer()
    undo = tracer.wrap(mod, "f", "m.f")
    assert mod.f(1) == 2
    undo()
    assert mod.f(2) == 3
    assert [s.name for s in tracer.spans] == ["m.f"]


def test_same_ranking_tolerates_last_bit_ties_only():
    from workloads import same_ranking

    oracle = [(344, 11.040865479237501), (170, 11.0408654792375),
              (240, 4.39), (795, 4.23)]
    engine = [(170, 11.040865479237501), (344, 11.040865479237501),
              (240, 4.39)]
    assert same_ranking(engine, oracle, k=3)
    # a real swap of different scores is a mismatch
    assert not same_ranking([(240, 4.39), (170, 11.04), (344, 11.04)],
                            [(170, 11.04), (344, 11.04), (240, 4.39)], k=3)
    # a missing or extra doc is a mismatch
    assert not same_ranking(engine[:2], oracle, k=3)
    assert not same_ranking([(170, 11.04), (999, 11.04)],
                            [(170, 11.04), (344, 11.04)], k=2)
    # a tie cut by the k-th place may keep any of its docs
    assert same_ranking([(1, 9.0), (7, 5.0)],
                        [(1, 9.0), (3, 5.0), (7, 5.0)], k=2)

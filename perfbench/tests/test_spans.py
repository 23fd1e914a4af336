"""The benchmark's own arithmetic: statistics helpers, interval unions,
span self time, and the event-log parser on a recorded excerpt."""

from __future__ import annotations

import os

import pytest

from perfbench import spans

EXCERPT = os.path.join(os.path.dirname(__file__), "eventlog_excerpt.jsonl")
STREAM_EXCERPT = os.path.join(os.path.dirname(__file__), "eventlog_stream_excerpt.jsonl")


def test_geomean():
    assert spans.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert spans.geomean([0.3, 15.0, 2.0]) == pytest.approx((0.3 * 15 * 2) ** (1 / 3))
    with pytest.raises(ValueError):
        spans.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        spans.geomean([])


def test_median():
    assert spans.median([3, 1, 2]) == 2
    assert spans.median([4, 1, 3, 2]) == 2.5


def test_tail_percentile_needs_ten_samples_beyond():
    assert spans.TAIL_BEYOND == 10
    assert spans.tail_percentile(range(1, 11)) is None     # 10 samples
    assert spans.tail_percentile(range(1, 21)) is None     # p50 only
    p, v = spans.tail_percentile(range(1, 101))
    assert (p, v) == (90.0, 90)                            # 10 above 90
    p, v = spans.tail_percentile(range(1, 1001))
    assert (p, v) == (99.0, 990)


def test_interval_union_merges_overlaps_and_clips():
    iv = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (5.5, 5.7)]
    assert spans.interval_union(iv) == pytest.approx(4.0)
    assert spans.interval_union(iv, lo=1.5, hi=5.5) == pytest.approx(2.0)
    assert spans.interval_union([(2.0, 1.0)]) == 0.0
    assert spans.interval_union([]) == 0.0


def _tree():
    # build [0, 10] with two children [1, 4] and [3, 6]; exec [10, 12]
    s = [spans.Span(0, "queries.q.build", None, 0.0, 10.0),
         spans.Span(1, "operators.a", 0, 1.0, 4.0),
         spans.Span(2, "operators.b", 0, 3.0, 6.0),
         spans.Span(3, "operators.c", 1, 1.5, 2.0),
         spans.Span(4, "queries.q.exec", None, 10.0, 12.0)]
    return s


def test_self_time_subtracts_covered_child_time():
    s = _tree()
    assert spans.self_time(s, 0) == pytest.approx(10.0 - 5.0)
    assert spans.self_time(s, 1) == pytest.approx(3.0 - 0.5)
    assert spans.self_time(s, 3) == pytest.approx(0.5)
    assert spans.subtree(s, 0) == {0, 1, 2, 3}


def test_driver_only_time_is_span_minus_union_of_its_jobs():
    s = _tree()
    log = spans.EventLog()
    # jobs of the build subtree overlap each other and one spills past
    # the span's end; a job of the exec span must not count
    for jid, group, a, b in [(0, "1", 2.0, 5.0), (1, "3", 4.0, 7.0),
                             (2, "0", 9.0, 11.0), (3, "4", 10.5, 11.5)]:
        log.jobs[jid] = spans.JobStats(jid, group, a, b)
    spans.attribute_jobs(log, s)
    busy = (7.0 - 2.0) + (10.0 - 9.0)
    assert spans.driver_only_s(log, s, 0) == pytest.approx(10.0 - busy)
    assert {j.job_id for j in spans.jobs_in(log, spans.subtree(s, 0))} == {0, 1, 2}


def test_jobs_outside_a_span_group_go_to_the_innermost_open_span():
    s = _tree()
    log = spans.EventLog()
    for jid, group, a in [(0, "not-a-span", 1.7), (1, None, 3.5),
                          (2, "99", 11.0), (3, None, 20.0)]:
        log.jobs[jid] = spans.JobStats(jid, group, a, a + 0.1)
    spans.attribute_jobs(log, s)
    assert [log.jobs[j].span for j in range(4)] == [3, 2, 4, None]


def test_stream_drain_jobs_are_attributed_by_time():
    # Recorded from a local[2] session: jobs 1-3 and 6-8 ran under job
    # group "0" (the pass); between them an availableNow stream drained two
    # landing files through foreachBatch, its jobs 4 and 5 carrying the
    # query's run id as their job group. Job 0 (schema inference) ran
    # before any span opened.
    with open(STREAM_EXCERPT) as fh:
        log = spans.parse_event_log(fh)
    s = [spans.Span(0, "pass.1", None, 1792213574.5, 1792213577.6),
         spans.Span(1, "streaming.drain", 0, 1792213575.999, 1792213577.339)]
    assert {log.jobs[j].group for j in (4, 5)} == {"36552bfe-865b-433a-8952-2e0be6d9d368"}
    spans.attribute_jobs(log, s)
    assert sorted(j.job_id for j in spans.jobs_in(log, {1})) == [4, 5]
    assert sorted(j.job_id for j in spans.jobs_in(log, {0})) == [1, 2, 3, 6, 7, 8]
    assert log.jobs[0].span is None
    drain = log.totals(j.job_id for j in spans.jobs_in(log, spans.subtree(s, 1)))
    assert (drain["jobs"], drain["stages"], drain["tasks"]) == (2, 2, 2)
    assert drain["input_bytes"] == 774
    everything = log.totals(j.job_id for j in spans.jobs_in(log, spans.subtree(s, 0)))
    assert everything["jobs"] == 8


def test_tracer_records_nested_spans_without_spark():
    t = spans.Tracer()
    f = t.wrap("op", lambda x: x + 1)
    with t.span("outer"):
        assert f(1) == 2
    outer, inner = t.spans
    assert inner.parent == outer.sid and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_event_log_excerpt_totals():
    # Recorded from a local[2] session: job 0 (job group "7") is a
    # two-stage shuffle, job 1 lists a parquet file, job 2 scans it. Stage
    # names are shortened and task 1's spill fields set by hand, since a
    # job this small does not spill.
    with open(EXCERPT) as fh:
        log = spans.parse_event_log(fh)
    assert sorted(log.jobs) == [0, 1, 2]
    j0 = log.jobs[0]
    assert (j0.group, j0.stage_ids, j0.succeeded) == ("7", [0, 1], True)
    assert j0.end - j0.start == pytest.approx(0.791)
    assert log.jobs[1].group is None
    t = log.totals([0])
    assert (t["jobs"], t["stages"], t["tasks"]) == (1, 2, 3)
    assert t["shuffle_write_bytes"] == 81 + 78
    assert t["shuffle_read_bytes"] == 159
    assert t["spill_bytes"] == 1024 + 512
    assert t["input_bytes"] == 0
    assert t["executor_run_s"] == pytest.approx((243 + 243 + 98) / 1000)
    assert t["executor_cpu_s"] == pytest.approx(
        (194_205_611 + 63_143_032 + 78_175_274) / 1e9)
    assert t["gc_s"] == pytest.approx((10 + 10 + 5) / 1000)
    assert log.totals([2])["input_bytes"] == 1964
    everything = log.totals([0, 1, 2])
    assert (everything["jobs"], everything["stages"], everything["tasks"]) == (3, 4, 5)
    assert log.totals([])["stages"] == 0

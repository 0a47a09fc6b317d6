"""Span self-time arithmetic and the untraced mode."""

import pytest

from spans import Span, Tracer, self_times


def test_self_time_subtracts_children_on_a_synthetic_tree():
    spans = [
        Span(0, "request", 0.0, 10.0, None, 1),
        Span(1, "construct", 1.0, 4.0, 0, 1),
        Span(2, "io", 1.5, 2.0, 1, 1),
        Span(3, "execute", 4.0, 9.0, 0, 1),
        Span(4, "io", 5.0, 6.0, 3, 1),
        Span(5, "io", 5.5, 7.0, 3, 1),  # overlaps its sibling: counted once
    ]
    st = self_times(spans)
    assert st["request"] == pytest.approx(10.0 - 3.0 - 5.0)
    assert st["construct"] == pytest.approx(3.0 - 0.5)
    assert st["execute"] == pytest.approx(5.0 - 2.0)
    assert st["io"] == pytest.approx(0.5 + 1.0 + 1.5)


def test_self_time_clips_children_to_the_parent_interval():
    spans = [Span(0, "a", 0.0, 2.0, None, None), Span(1, "b", 1.0, 3.0, 0, None)]
    assert self_times(spans)["a"] == pytest.approx(1.0)


def test_untraced_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("request", batch=0, jobs="topk"):
        with tr.span("topk.execute"):
            tr.add("rows", 5)
    with tr.only_if(True):
        with tr.span("request"):
            pass
    assert tr.spans == [] and tr.counts == {}


def test_traced_tracer_nests_and_pauses():
    tr = Tracer(True)
    with tr.span("outer", batch=3):
        with tr.span("inner", batch=3):
            pass
        with tr.only_if(False):
            with tr.span("skipped"):
                tr.add("n", 1)
    names = {s.name: s for s in tr.spans}
    assert set(names) == {"outer", "inner"}
    assert names["inner"].parent == names["outer"].sid
    assert names["outer"].parent is None and names["inner"].batch == 3
    assert tr.counts == {}


def test_traced_copy_alternates_between_first_and_second():
    from workloads import copies

    assert copies(Tracer(False), 0) == copies(Tracer(False), 1) == (False,)
    tr = Tracer(True)
    assert copies(tr, 0) == (False, True) and copies(tr, 1) == (True, False)
    with tr.only_if(False):  # a paused tracer still sends both copies
        assert copies(tr, 2) == (False, True)


class _FakeContext:
    """Just enough of a SparkContext for a job group holding one job
    whose stages are gone, so only the job is counted."""

    def __init__(self):
        self._jsc = self

    def sc(self):
        return self

    listenerBus = statusStore = statusTracker = sc

    def waitUntilEmpty(self):
        pass

    def getJobIdsForGroup(self, group):
        return [0]

    def getJobInfo(self, job):
        return None

    def getLocalProperty(self, key):
        return None

    def setJobGroup(self, group, name):
        pass

    def setLocalProperty(self, key, value):
        pass


class _FakeSpark:
    sparkContext = _FakeContext()


def test_counting_is_charged_to_its_own_span():
    tr = Tracer(True)
    tr.bind(_FakeSpark())
    with tr.span("request"):
        with tr.span("topk.execute", jobs="topk"):
            pass
    by_name = {s.name: s for s in tr.spans}
    assert set(by_name) == {"request", "topk.execute", "trace.counters"}
    counters, execute = by_name["trace.counters"], by_name["topk.execute"]
    assert counters.parent == by_name["request"].sid and counters.start >= execute.end
    assert tr.counts == {"topk_spark_jobs": 1, "topk_spark_tasks": 0, "topk_shuffle_bytes": 0}

"""The harness's own arithmetic: percentile choice, self time with
overlapping child spans, job-id delta counting and failure accounting.
No Spark: run with ``python -m pytest perfbench/tests -q``."""

import math
import statistics
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from perfbench import stats
from perfbench.trace import Tracer


# -- percentile with at least ten samples beyond it --------------------------


@pytest.mark.parametrize("n, p", [(100, 90), (200, 90), (35, 71), (60, 83), (21, 52)])
def test_tail_percentile_values(n, p):
    assert stats.tail_percentile(n) == p


@pytest.mark.parametrize("n", [0, 1, 10, 11, 20])
def test_tail_percentile_none_when_too_few_samples(n):
    assert stats.tail_percentile(n) is None


def test_tail_percentile_is_the_highest_with_ten_beyond():
    for n in range(21, 400):
        p = stats.tail_percentile(n)
        beyond = n - math.ceil(p * n / 100)
        assert beyond >= 10
        if p < 90:  # one percentile higher would leave fewer than ten
            assert n - math.ceil((p + 1) * n / 100) < 10


def test_tail_value_and_fallback_to_max():
    values = [float(i) for i in range(1, 101)]
    assert stats.tail(values) == (90.0, 90)
    assert stats.percentile(values, 50) == 50.0
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, None)


def test_spread_uses_statistics_quartiles():
    values = [10.0, 11.0, 12.0, 13.0, 30.0]
    q1, _, q3 = statistics.quantiles(values, n=4)
    s = stats.spread(values)
    assert (s["q1"], s["q3"], s["median"]) == (q1, q3, 12.0)
    assert s["rel_iqr"] == pytest.approx((q3 - q1) / 12.0)


# -- self time with overlapping children -------------------------------------


def test_self_time_overlapping_children():
    # [1,4] and [2,6] overlap (union 5 s), [8,9] is separate, [9.5,12]
    # sticks out of the span and counts only up to its end
    children = [(1, 4), (2, 6), (8, 9), (9.5, 12)]
    assert stats.union_length(children, 0, 10) == pytest.approx(6.5)
    assert stats.self_time(0, 10, children) == pytest.approx(3.5)


def test_self_time_no_children_and_nested_children():
    assert stats.self_time(2, 5, []) == 3
    assert stats.self_time(0, 10, [(1, 9), (2, 3), (4, 5)]) == pytest.approx(2)


def test_tracer_pool_children_attach_to_main_span_and_overlap():
    jobs = iter(range(1000))
    tracer = Tracer(lambda: next(jobs))
    barrier = threading.Barrier(3)

    def child(i):
        with tracer.span("child"):
            barrier.wait()  # all three children are open at once

    with tracer.span("parent") as parent:
        with ThreadPoolExecutor(max_workers=3) as pool:
            list(pool.map(child, range(3)))
    kids = tracer.by_name("child")
    assert [k.parent for k in kids] == [parent.id] * 3
    own = tracer.self_times()[parent.id]
    union = stats.union_length([(k.start, k.end) for k in kids], parent.start, parent.end)
    assert own == pytest.approx((parent.end - parent.start) - union)
    # overlapping children: the union is shorter than their summed time
    assert union < sum(k.end - k.start for k in kids) + 1e-9
    assert own >= 0


# -- job-id delta counting -----------------------------------------------------


def test_job_delta_subtracts_harness_jobs_inside_the_window():
    assert stats.job_delta(10, 30) == 20
    # (12,15) lies inside, (28,35) half inside, (0,5) outside
    assert stats.job_delta(10, 30, [(12, 15), (28, 35), (0, 5)]) == 15


def test_job_delta_rejects_backwards_readings():
    with pytest.raises(ValueError):
        stats.job_delta(30, 10)


def test_jobs_in_merges_overlapping_spans_of_one_operation():
    readings = iter([5, 6, 9, 12, 20, 22])
    tracer = Tracer(lambda: next(readings))
    tracer.op = 1
    a = tracer.span("a")
    a.__enter__()  # jobs0 = 5
    with tracer.span("b"):  # jobs0 = 6, jobs1 = 9
        pass
    a.__exit__(None, None, None)  # jobs1 = 12
    tracer.op = 2
    with tracer.span("c"):  # 20 -> 22
        pass
    # op 1's window is 5..12 (not 7 + 3), op 2's is 20..22
    assert tracer.jobs_in(tracer.spans) == 9
    tracer.excluded.append((7, 8))
    assert tracer.jobs_in(tracer.spans) == 8


def test_own_spans_are_excluded_from_job_counts():
    readings = iter([0, 4, 6, 10])
    tracer = Tracer(lambda: next(readings))
    with tracer.span("layer") as sp:  # 0 -> 10
        with tracer.own():  # 4 -> 6
            pass
    assert tracer.excluded == [(4, 6)]
    assert tracer.jobs_in([sp]) == 8


# -- failure accounting ----------------------------------------------------------


def test_tally_counts_raises_wrong_outputs_and_failed_checks():
    t = stats.Tally()
    t.record(True)
    t.record(False, "raised")
    t.record(True)
    t.record(False, "check failed")
    assert (t.attempted, t.failed) == (4, 2)
    assert t.ratio == pytest.approx(0.5)
    assert t.reasons == ["raised", "check failed"]


def test_tally_empty_ratio_is_zero():
    assert stats.Tally().ratio == 0.0

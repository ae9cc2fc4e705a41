"""pool.jobs / pool.run_all: the one way the engine runs Spark jobs
concurrently.  Results come back in input order, a lone fn runs on the
calling thread, and every submitted future is waited on and reported,
also when the body or another future fails."""

import threading
import time

import pytest

from sonar_tantivy_spark.pool import jobs, run_all


def _report(exc: BaseException) -> str:
    return str(exc) + " ".join(getattr(exc, "__notes__", []))


def test_results_in_input_order():
    def after(delay, value):
        def fn():
            time.sleep(delay)
            return value
        return fn

    # the first fn finishes last
    fns = [after(0.05 * (4 - i), i) for i in range(5)]
    assert run_all(fns, 4) == [0, 1, 2, 3, 4]


def test_single_fn_runs_inline():
    me = threading.get_ident()
    assert run_all([threading.get_ident], 8) == [me]
    assert run_all([], 8) == []


def test_many_fns_use_at_most_workers_pool_threads():
    def ident():
        time.sleep(0.02)
        return threading.get_ident()

    idents = run_all([ident] * 6, 2)
    assert len(set(idents)) <= 2
    assert threading.get_ident() not in idents


def test_every_failure_is_reported():
    def fail(msg):
        def fn():
            raise OSError(msg)
        return fn

    with pytest.raises(OSError) as ei:
        run_all([fail("first failed"), lambda: 1, fail("third failed")], 3)
    assert str(ei.value) == "first failed"  # input order picks the head
    assert "third failed" in _report(ei.value)


def test_body_error_waits_on_every_future():
    finished = []

    def slow_fail():
        time.sleep(0.2)
        finished.append(True)
        raise OSError("side write failed")

    with pytest.raises(RuntimeError) as ei:
        with jobs(2) as submit:
            submit(slow_fail)
            raise RuntimeError("main step failed")
    assert finished == [True]  # waited on before the raise
    assert str(ei.value) == "main step failed"
    assert "also failed: OSError: side write failed" in _report(ei.value)


def test_reraised_future_error_is_not_reported_twice():
    def fail():
        raise OSError("once")

    with pytest.raises(OSError) as ei:
        with jobs(2) as submit:
            submit(fail).result()
    assert not getattr(ei.value, "__notes__", [])

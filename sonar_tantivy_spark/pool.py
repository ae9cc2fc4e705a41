"""The engine's one way to run Spark jobs concurrently.

Every pool site (build, merge, ``query_json``'s collectors, the
runnable aggs, ``msearch``, ``multi_query``, the ANN recall
measurements) goes through ``jobs`` or ``run_all``, which wait on all
of their futures, so no future's exception is silently dropped.
Submission goes through ``ThreadPoolExecutor.submit``: a tracer that
patches that method carries its span labels into the pool threads.
"""

from __future__ import annotations

import contextlib
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable, Iterable


@contextlib.contextmanager
def jobs(workers: int):
    """Yield ``submit(fn, *args, **kwargs) -> Future`` over a pool of
    ``workers`` threads.  On exit, wait on every submitted future — also
    when the body raised — and raise if anything failed: the body's
    error first, else the first future's, with every other error
    attached as a note.  A body that re-raises a future's error
    (``f.result()``) does not report it twice.  A failed main-thread
    step then never hides a sibling's failure."""
    futures: list = []
    errors: list[BaseException] = []
    with ThreadPoolExecutor(max_workers=workers) as pool:

        def submit(fn: Callable, /, *args, **kwargs):
            fut = pool.submit(fn, *args, **kwargs)
            futures.append(fut)
            return fut

        try:
            yield submit
        except BaseException as e:  # noqa: BLE001 - re-raised below
            errors.append(e)
        for f in futures:
            e = f.exception()
            if e is not None and not any(e is seen for seen in errors):
                errors.append(e)
    if errors:
        head = errors[0]
        for e in errors[1:]:
            head.add_note(f"also failed: {type(e).__name__}: {e}")
        raise head


def run_all(fns: Iterable[Callable[[], Any]], workers: int) -> list:
    """Call every ``fn`` concurrently on at most ``workers`` threads and
    return their results in input order; every error surfaces as in
    ``jobs``.  One fn (or none) runs inline on the calling thread — a
    pool would only add a thread hop."""
    fns = list(fns)
    if len(fns) <= 1:
        return [fn() for fn in fns]
    with jobs(min(workers, len(fns))) as submit:
        futs = [submit(fn) for fn in fns]
    return [f.result() for f in futs]

"""Error surfacing for the engine's thread pools of concurrent Spark jobs.

Every pool site (build, merge, ``query_json``'s collectors, the
runnable aggs, ``msearch``, ``multi_query``, the ANN recall
measurements) waits on all of its futures through ``surface_all``, so
no future's exception is silently dropped.
"""

from __future__ import annotations

import contextlib


@contextlib.contextmanager
def surface_all(futures: list):
    """On exit, wait on every future in ``futures`` — also when the
    body raised — and raise if anything failed: the body's error first,
    else the first future's, with every other error attached as a note.
    A body that re-raises a future's error (``f.result()``) does not
    report it twice.  A failed main-thread step then never hides a
    sibling's failure."""
    errors: list[BaseException] = []
    try:
        yield
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

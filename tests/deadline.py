"""Per-call deadline for tests that feed untrusted bytes to a decoder."""

from __future__ import annotations

import signal
from contextlib import contextmanager


class Deadline(Exception):
    pass


@contextmanager
def deadline(seconds: float):
    """Raise :class:`Deadline` in the calling thread after ``seconds``: a
    decoder that loops forever fails the test instead of hanging it."""

    def fire(*_):
        raise Deadline(f"decode still running after {seconds}s")

    old = signal.signal(signal.SIGALRM, fire)
    signal.setitimer(signal.ITIMER_REAL, seconds)
    try:
        yield
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, old)

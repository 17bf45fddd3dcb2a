"""Cooperative per-document wall-clock budget for the extraction core.

The reference *defined* a conversion timeout but never enforced it
(/root/reference/app/main.py:208 — ``CONVERSION_TIMEOUT = 300`` is dead
config; nothing reads it, per SURVEY.md §2.11). At 100 TB an unenforced
budget is a real hazard: one pathological page (catastrophic regex,
pathologically nested DOM, a decompression quine) can pin an executor
core forever, and Spark's own speculative re-execution just runs the
same poison document again. So we enforce ours for real, cooperatively:

* :func:`extract_document` arms a deadline before dispatch and disarms
  it in ``finally``;
* the parser hot loops (HTML tokenizer, PDF object and content-stream
  scanners) call :func:`check` every ``_STRIDE`` iterations — a counter
  decrement per iteration, one ``time.monotonic()`` per stride,
  unmeasurable at bench scale;
* coarser phases call :func:`check_now`: each PDF page, each flate
  stream after it inflates, and the DOCX reader after inflating
  ``word/document.xml``, after parsing it and every ``_CHECK_EVERY``
  body children;
* a blown budget raises :class:`DocTimeBudgetError`, which the U1
  dispatch catches and tags as ``error='timeout'`` — a per-doc failure
  row like ``needs_ocr``/``encrypted``, never a task failure.

Cooperative (not SIGALRM / not a watchdog thread) on purpose: Spark
Python workers handle many documents per process, signals interact
badly with the worker's own alarm usage and only fire on the main
thread, and a watchdog cannot actually stop a stuck C call either. The
checks bound the Python loops above. A single C call still runs to its
end before the next check sees the overrun: one ``zlib`` inflate (capped
at 64 MB of output), one ``ElementTree`` parse of a DOCX part, or one
regex search over a PDF body.

Module-level state is safe here: one document is extracted at a time
per worker process (the Arrow batch loop is sequential), and
re-entrancy (docx → html path) keeps the OUTER deadline — :func:`arm`
never extends an armed budget.
"""

from __future__ import annotations

import time

_STRIDE = 4096

_deadline: float | None = None
_countdown: int = _STRIDE


class DocTimeBudgetError(Exception):
    """Per-document wall-clock budget exhausted (→ error='timeout')."""


def arm(budget_s: float | None) -> bool:
    """Arm the deadline unless one is already armed (re-entrant parse
    paths keep the outer budget). Returns True if this call armed it —
    the caller that armed it is the one that must :func:`disarm`."""
    global _deadline, _countdown
    if budget_s is None or _deadline is not None:
        return False
    _deadline = time.monotonic() + budget_s
    _countdown = _STRIDE
    return True


def disarm() -> None:
    global _deadline
    _deadline = None


def check() -> None:
    """Call from parser hot loops. Amortized cost: one int decrement;
    one clock read per ``_STRIDE`` calls."""
    global _countdown
    _countdown -= 1
    if _countdown <= 0:
        _countdown = _STRIDE
        if _deadline is not None and time.monotonic() > _deadline:
            raise DocTimeBudgetError


def check_now() -> None:
    """Non-strided check, for coarse phase boundaries (between PDF
    pages, after a flate inflate, between DOCX phases) where the step
    before it is already expensive."""
    if _deadline is not None and time.monotonic() > _deadline:
        raise DocTimeBudgetError

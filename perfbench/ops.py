"""Operation accounting shared by the workloads."""

from __future__ import annotations

import traceback


class Ops:
    """Counts attempted and failed operations. An exception inside an
    operation is a failure, never a skip."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def fail(self, what: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"{what}: {why}"[:500])

    def run(self, what: str, fn, *args, **kwargs):
        """Attempt one operation; returns its value, or None if it raised."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as ex:  # the run continues; the op counts as failed
            self.fail(what, f"{type(ex).__name__}: {ex}\n"
                      + traceback.format_exc(limit=3))
            return None

    def check(self, what: str, ok: bool, why: str) -> None:
        """Record a failed correctness check against an attempted op."""
        if not ok:
            self.fail(what, why)

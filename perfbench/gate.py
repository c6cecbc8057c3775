"""The benchmark's correctness gate: result comparisons and the
attempted/failed tally every run reports."""

from __future__ import annotations

import sys
import threading

import numpy as np

# float32 scores: the rank-identity tests' tolerance
RTOL = 2e-6


def hits(rows) -> list[tuple[int, float]]:
    """(doc_id, score) pairs of engine or oracle rows, in result order."""
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def same_hits(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """Equal doc_id order and float32-equal scores."""
    if [d for d, _ in got] != [d for d, _ in want]:
        return False
    g = np.array([s for _, s in got], dtype=np.float32)
    w = np.array([s for _, s in want], dtype=np.float32)
    return bool(np.allclose(g, w, rtol=RTOL, atol=0.0))


class Gate:
    """Tally of attempted and failed operations; a failed check is
    reported on stderr with what differed. Checks may run on several
    threads."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self._lock = threading.Lock()

    def _count(self, ok: bool) -> None:
        with self._lock:
            self.attempted += 1
            self.failed += not ok

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self._count(ok)
        if not ok:
            print(f"perfbench: check failed: {name} {detail}", file=sys.stderr)
        return ok

    def op(self, name: str, fn, *args, **kwargs):
        """Run one benchmark operation; an exception counts as a failed
        operation and returns None."""
        try:
            out = fn(*args, **kwargs)
        except Exception as exc:  # a failed operation is counted, not fatal
            self._count(False)
            print(f"perfbench: operation failed: {name}: {exc!r}", file=sys.stderr)
            return None
        self._count(True)
        return out

    def run_all(self, *checks) -> None:
        """Run independent checks (callables) concurrently; a check that
        raises counts as one failed check."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(checks)) as pool:
            futures = [pool.submit(c) for c in checks]
        for c, f in zip(checks, futures):
            exc = f.exception()
            if exc is not None:
                self.check(getattr(c, "__name__", "check"), False, repr(exc))

"""The closed loop shared by every workload: one client issues an
operation, waits for its result, checks it, and issues the next one.
Operations are recorded by kind; an operation that raises counts as
attempted and failed and the loop goes on."""

from __future__ import annotations

import statistics
import sys
import time
from collections import defaultdict

FAILED = object()  # what ``Run.op`` returns for an operation that raised


class Run:
    def __init__(self, tracer=None):
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.rounds = 0
        self.samples = defaultdict(list)  # kind -> seconds per completed op
        self.counts = defaultdict(list)  # kind -> Spark counts per op (traced runs)
        self.problems = []
        self.warming = False  # set-up's untimed warm-up: ops run, nothing recorded
        self.merged_scan = []  # traced runs: seconds to materialize a store frame alone

    def op(self, kind: str, fn):
        """Time ``fn()``; it must return materialized results."""
        if self.warming:
            return fn()
        if self.tracer is not None:
            self.tracer.counters.mark()
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # a failed operation is a result, not an end
            self.failed += 1
            print(f"storebench: {kind} failed: {type(e).__name__}: {e}", file=sys.stderr)
            return FAILED
        self.samples[kind].append(time.perf_counter() - t0)
        if self.tracer is not None:
            self.counts[kind].append(self.tracer.counters.since_mark())
        return out

    def time_scan(self, make_frame) -> None:
        """Traced runs: plan and materialize ``make_frame()`` alone, a
        job only traced runs pay."""
        if self.tracer is None or self.warming:
            return
        with self.tracer.pause():
            t0 = time.perf_counter()
            make_frame().write.format("noop").mode("overwrite").save()
            self.merged_scan.append(time.perf_counter() - t0)

    def check(self, problems) -> None:
        for p in problems:
            if len(self.problems) < 20:
                print(f"storebench: check failed: {p}", file=sys.stderr)
            self.problems.append(p)

    # -- summaries ---------------------------------------------------------

    def median(self, *kinds) -> float:
        values = [s for k in kinds for s in self.samples[k]]
        return statistics.median(values) if values else float("nan")

    def n(self, *kinds) -> int:
        """Completed operations (all kinds when none given)."""
        kinds = kinds or tuple(self.samples)
        return sum(len(self.samples[k]) for k in kinds)

    def busy(self, *kinds) -> float:
        """Seconds spent in completed operations (all kinds when none given)."""
        kinds = kinds or tuple(self.samples)
        return sum(sum(self.samples[k]) for k in kinds)

    def rate(self, amount: float, *kinds) -> float:
        """``amount`` per second of operation time (NaN before any ran)."""
        busy = self.busy(*kinds)
        return amount / busy if busy else float("nan")

    def per_op(self, field: str, *kinds) -> float:
        """Mean Spark ``field`` count per traced operation of ``kinds``
        (all kinds when none given); 0 when no such operation ran."""
        kinds = kinds or tuple(self.counts)
        rows = [c[field] for k in kinds for c in self.counts[k]]
        return sum(rows) / len(rows) if rows else 0.0


def loop(workload, run: Run, seconds: float) -> None:
    """Whole rounds until ``seconds`` have passed; at least one."""
    t0 = time.perf_counter()
    while run.rounds == 0 or time.perf_counter() - t0 < seconds:
        workload.round()
        run.rounds += 1

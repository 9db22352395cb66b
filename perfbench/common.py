"""Measurement pieces shared by the workloads: op accounting, summary
statistics, directory listings, and the tracer that records spans and
counters around each call into a layer of the program.

Everything here lives in the benchmark process and observes the
program from outside: py4j round trips are counted by wrapping the
gateway client's ``send_command``, Spark jobs and stages by reading the
application status store, files and bytes by listing directories."""

from __future__ import annotations

import math
import os
import statistics
import sys
import time
import traceback
from collections import Counter, defaultdict
from contextlib import contextmanager

from py4j.protocol import MEMORY_COMMAND_NAME

FAILED = object()


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def geomean(xs) -> float:
    if not xs:
        return 0.0
    if any(x == math.inf for x in xs):
        return math.inf
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail(xs) -> tuple[float, int] | None:
    """The highest whole percentile with at least ten samples beyond it,
    as (value, percentile); None below 11 samples."""
    n = len(xs)
    if n < 11:
        return None
    p = math.floor(100 * (n - 10) / n)
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100 * n) - 1)], p


class Ops:
    """Attempted and failed counts per op type, and latency samples.

    A failed op keeps the run going; its latency sample is +inf, so it
    misses any latency limit a reader applies to the medians."""

    def __init__(self):
        self.attempted: Counter = Counter()
        self.failed: Counter = Counter()
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.errors: list[str] = []

    def run(self, kind: str, fn, *args, **kwargs):
        self.attempted[kind] += 1
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        except Exception as exc:  # a failed op is data, not the end of the run
            self.failed[kind] += 1
            self.lat[kind].append(math.inf)
            self.errors.append(f"{kind}: {exc!r}"[:500])
            traceback.print_exc(file=sys.stderr)
            return FAILED
        self.lat[kind].append(time.perf_counter() - t0)
        return out

    def ok(self, kind: str) -> int:
        return self.attempted[kind] - self.failed[kind]

    def total(self) -> tuple[int, int]:
        return sum(self.attempted.values()), sum(self.failed.values())


# ------------------------------------------------------------- files


def listing(root: str) -> dict[str, int]:
    """relative path -> size for every regular file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[os.path.relpath(p, root)] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


def tree_bytes(root: str) -> int:
    return sum(listing(root).values())


# ------------------------------------------------------------- tracer


class Tracer:
    """Spans and counters around calls into the program's layers.

    With ``enabled=False`` every method is a no-op, so the untraced run
    that gives the end-to-end numbers pays nothing. With it on, each
    span records name, start, end, parent span and op id, plus the
    py4j round trips and Spark jobs and stages submitted while it was
    open; the tracer's own JVM calls are not counted."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self._stack: list[int] = []
        self.op_id = 0
        self.py4j = 0
        self._own = False
        if enabled:
            client = spark.sparkContext._gateway._gateway_client
            send = client.send_command

            def counting_send(command, *args, **kwargs):
                # the finalizer thread's release of garbage-collected
                # proxies is not a call the program made, and its timing
                # follows Python's garbage collector
                if not self._own and not command.startswith(MEMORY_COMMAND_NAME):
                    self.py4j += 1
                return send(command, *args, **kwargs)

            client.send_command = counting_send
            jsc = spark.sparkContext._jsc.sc()
            self._own = True
            self._bus = jsc.listenerBus()
            self._store = jsc.statusStore()
            self._own = False
            self._last_job = self._max_job_id()

    def next_op(self) -> int:
        self.op_id += 1
        return self.op_id

    def _max_job_id(self) -> int:
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    def _jobs_since(self, last: int) -> tuple[int, int, int]:
        """(jobs, stages, newest job id) for jobs with id > ``last``,
        across every job group (streaming micro-batches included)."""
        self._own = True
        try:
            self._bus.waitUntilEmpty()
            jobs = self._store.jobsList(None)  # newest first
            n = stages = 0
            newest = last
            for i in range(jobs.size()):
                j = jobs.apply(i)
                jid = j.jobId()
                if jid <= last:
                    break
                newest = max(newest, jid)
                n += 1
                stages += j.stageIds().size()
            return n, stages, newest
        finally:
            self._own = False

    @contextmanager
    def span(self, name: str):
        """Yields a dict the caller may add counters to; on exit it
        holds ``s``, ``py4j``, ``jobs`` and ``stages`` for the span."""
        rec: dict = {}
        if not self.enabled:
            yield rec
            return
        idx = len(self.spans)
        span = {
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
        }
        self.spans.append(span)
        self._stack.append(idx)
        _, _, last = self._jobs_since(self._last_job)
        self._last_job = last
        p0 = self.py4j
        span["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            span["end"] = time.perf_counter()
            p1 = self.py4j
            jobs, stages, self._last_job = self._jobs_since(last)
            self._stack.pop()
            rec.update(
                s=span["end"] - span["start"],
                py4j=p1 - p0,
                jobs=jobs,
                stages=stages,
            )
            span.update(rec)

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.samples[name].append(float(value))

    def p50(self, name: str) -> float:
        return median(self.samples.get(name, []))

    def self_times(self) -> dict[str, float]:
        """Seconds per layer (span-name prefix) not covered by child spans."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if "end" in s:
                layer = s["name"].split(".")[0]
                out[layer] += (s["end"] - s["start"]) - child[i]
        return dict(out)

"""State one benchmark run shares between its workload and run.py:
the session, tracer, run root, op accounting and layer calls."""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from perfbench.tracing import Tracer


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except FileNotFoundError:
                continue
    return total


def dir_files(path: str) -> int:
    return sum(len(files) for _, _, files in os.walk(path))


class Run:
    """One run: counts attempted and failed ops, keeps latency samples
    per request kind, and wraps calls into the engine in tracer spans.

    Calls are traced only inside a traced request (see `request`), so
    set-up and the untraced control requests record no spans."""

    def __init__(self, spark, root: str, seed: int, seconds: float, trace: bool):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tr = Tracer(spark.sparkContext)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.untraced: dict[str, list[float]] = defaultdict(list)
        self.extra: dict = {}  # workload-specific values for per-layer metrics
        self._lock = threading.Lock()
        self._local = threading.local()

    # ------------------------------------------------------ accounting

    def op(self, ok_reason: str | None, what: str) -> bool:
        """Count one op; `ok_reason` is None when its output checked out."""
        with self._lock:
            self.attempted += 1
            if ok_reason is not None:
                self.failed += 1
                if len(self.failures) < 20:
                    self.failures.append(f"{what}: {ok_reason}")
        return ok_reason is None

    def sample(self, kind: str, ms: float) -> None:
        with self._lock:
            (self.samples if self.traced() or not self.trace else self.untraced)[kind].append(ms)

    # --------------------------------------------------------- tracing

    @contextmanager
    def request(self, n: int, control: bool = True):
        """Scope one request. In a traced run, odd-numbered `control`
        requests go untraced: they are the overhead baseline."""
        self._local.traced = self.trace and not (control and n % 2 == 1)
        self._local.request = n
        try:
            yield
        finally:
            self._local.traced = False

    def traced(self) -> bool:
        return getattr(self._local, "traced", False)

    @contextmanager
    def span(self, name: str):
        if not self.traced():
            yield None
            return
        with self.tr.span(name, getattr(self._local, "request", None)) as s:
            yield s

    def read(self, layer: str, build):
        """A read call: `build()` returns a DataFrame (the plan phase) and
        collecting it is the exec phase. Returns the collected rows."""
        with self.span(layer) as s:
            with self.span("plan"):
                df = build()
            with self.span("exec"):
                rows = df.collect()
            if s is not None:
                s["rows"] = len(rows)
        return rows

    @contextmanager
    def writing(self, layer: str, watch: str):
        """Span a write call; in a traced request the span also records
        the byte delta of directory `watch` across the call."""
        measure = self.traced()
        before = dir_bytes(watch) if measure else 0
        with self.span(layer) as s:
            yield s
        if measure:
            s["bytes_written"] = dir_bytes(watch) - before

    def write(self, layer: str, fn, watch: str):
        with self.writing(layer, watch):
            return fn()

    # --------------------------------------------------------- helpers

    def deadline(self) -> float:
        return time.perf_counter() + self.seconds

"""Spans, per-layer self time, process-tree RSS and the summary stats the
benchmark reports.

Spans are recorded by the benchmark around its calls into each layer;
the program itself is not instrumented. A span's layer is the part of
its name before the first dot (``manifest.commit`` -> ``manifest``).
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time


class Tracer:
    """In-memory span recorder. Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.request: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main: list[dict] = []  # the main thread's open spans

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            main = threading.current_thread() is threading.main_thread()
            stack = self._local.stack = self._main if main else []
        # a span opened on a callback thread (a foreachBatch epoch) has
        # no parent there: attach it to the main thread's innermost span
        parent = stack[-1] if stack else (self._main[-1] if self._main else None)
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": parent["id"] if parent else None,
            "request": self.request,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        except BaseException:
            rec["error"] = True
            raise
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def wrap(self, module, attr: str, name: str):
        """Replace ``module.attr`` by a spanned call of it; returns a
        function that restores the original."""
        orig = getattr(module, attr)

        def spanned(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, spanned)
        return lambda: setattr(module, attr, orig)

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the time its
        child spans cover, summed by layer."""
        child_cover: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                d = s["end"] - s["start"]
                child_cover[s["parent"]] = child_cover.get(s["parent"], 0.0) + d
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            layer = s["name"].split(".", 1)[0]
            own = (s["end"] - s["start"]) - child_cover.get(s["id"], 0.0)
            out[layer] = out.get(layer, 0.0) + max(own, 0.0)
        return out

    def busy(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1])
    return 0


def _driver_rss_kb(pid: int) -> int:
    """Resident set of ``pid`` plus its direct children, from /proc.

    The children are the JVM; the python workers the JVM forks are left
    out: they share most pages with their fork parent, so adding their
    resident sets would count those pages once per worker alive."""
    total = _rss_kb(pid)
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                children = fh.read().split()
            for child in children:
                total += _rss_kb(int(child))
        except (FileNotFoundError, ProcessLookupError):
            continue  # a thread or child exited between listing and reading
    return total


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JIT compiler threads of ``pid`` (a JVM)."""
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                name, rest = fh.read().split("(", 1)[1].rsplit(")", 1)
            if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                ticks += sum(int(x) for x in rest.split()[11:13])  # utime stime
        except (FileNotFoundError, ProcessLookupError):
            continue
    return ticks


def tree_cpu_s() -> tuple[float, float]:
    """CPU seconds used so far by this process and every descendant (the
    JVM and the python workers it forks), reaped children included, from
    /proc; and the part of it the JVM's JIT compiler threads used."""
    total = jit_ticks = 0
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
            jit_ticks += _jit_ticks(pid)
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
        except (FileNotFoundError, ProcessLookupError):
            continue  # exited between listing and reading
    tick = os.sysconf("SC_CLK_TCK")
    return total / tick, jit_ticks / tick


class RssSampler:
    """Peak resident set of the python driver plus its JVM child,
    sampled every ``interval`` seconds on a daemon thread."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _driver_rss_kb(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float], q: float) -> float | None:
    """The ``q`` quantile, or None when fewer than ten samples lie beyond
    it (too few to report a tail)."""
    if len(xs) * (1.0 - q) < 10:
        return None
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))]

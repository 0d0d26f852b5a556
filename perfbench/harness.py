"""Program-independent helpers of the benchmark: percentiles, spans and
self time, prefix stage times, Spark metric strings, process-tree RSS and
the contention probe. Nothing here imports Spark or the engine, so the
helpers are unit-tested on their own (``test_harness.py``)."""

from __future__ import annotations

import hashlib
import os
import re
import signal
import statistics
import threading
import time
from contextlib import contextmanager

# --------------------------------------------------------------------------
# percentiles
# --------------------------------------------------------------------------


def tail_percentile(samples: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile that still has at least ``beyond`` samples
    above it, as ``(percentile, value)``.

    Sorted ascending, the value at index ``n - beyond - 1`` has exactly
    ``beyond`` samples beyond it; it is the ``100 * (n - beyond) / n``-th
    percentile (the share of samples at or below it). With ``n <= beyond``
    no percentile qualifies and the result is None."""
    n = len(samples)
    if n <= beyond:
        return None
    ordered = sorted(samples)
    return 100.0 * (n - beyond) / n, ordered[n - beyond - 1]


def summarize(samples: list[float]) -> dict:
    """Median, quartiles (``statistics.quantiles(n=4)``, from two samples
    on), spread ((Q3 - Q1) / median), tail (see :func:`tail_percentile`)
    and sample count."""
    tail = tail_percentile(samples)
    median = statistics.median(samples) if samples else None
    q1 = q3 = spread = None
    if len(samples) >= 2:
        q1, _, q3 = statistics.quantiles(samples, n=4)
        spread = (q3 - q1) / median if median else None
    return {
        "median": median,
        "q1": q1,
        "q3": q3,
        "spread": spread,
        "tail_pct": tail[0] if tail else None,
        "tail": tail[1] if tail else None,
        "n": len(samples),
    }


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


class Tracer:
    """In-memory span recorder: each span is (id, name, start, end, parent),
    the parent being the innermost span open when it starts. Spans are
    opened on the application's main thread only."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval that its
    children cover (children may overlap each other and may run past the
    parent's end; only the covered part inside the parent counts)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        kids = [
            (max(c["start"], lo), min(c["end"], hi))
            for c in children.get(s["id"], [])
            if c["end"] > lo and c["start"] < hi
        ]
        out[s["id"]] = (hi - lo) - union_length(kids)
    return out


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


def layer_self_times(spans: list[dict], root_id: int) -> tuple[dict[str, float], float]:
    """Per-layer self time of the spans under ``root_id`` and the root's
    uncovered time (its own self time). Layer = span name up to the first
    dot. Layer self times plus the uncovered time equal the root's
    duration whenever every span nests inside its parent."""
    by_id = {s["id"]: s for s in spans}

    def under_root(s):
        p = s["parent"]
        while p is not None:
            if p == root_id:
                return True
            p = by_id[p]["parent"]
        return False

    st = self_times(spans)
    layers: dict[str, float] = {}
    for s in spans:
        if s["id"] != root_id and under_root(s):
            layers[layer_of(s["name"])] = layers.get(layer_of(s["name"]), 0.0) + st[s["id"]]
    return layers, st[root_id]


# --------------------------------------------------------------------------
# prefix stage times
# --------------------------------------------------------------------------


def prefix_stage_times(prefix_times: list[tuple[str, float]]) -> dict[str, float]:
    """Stage time = its cumulative prefix's time minus the previous
    prefix's (the first stage's is its own prefix time)."""
    out, prev = {}, 0.0
    for name, t in prefix_times:
        out[name] = t - prev
        prev = t
    return out


# --------------------------------------------------------------------------
# Spark SQL metric strings
# --------------------------------------------------------------------------

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0, "ns": 1e-9,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "PiB": 1024**5, "EiB": 1024**6,
}
_VALUE_RE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str | None) -> float | None:
    """Total of a status-store SQL metric string, in seconds for timings,
    bytes for sizes and a plain number for counts.

    Accepts the one-line form (``"8,235"``, ``"69 ms"``, ``"400.6 KiB"``)
    and the per-task form, whose last line starts with the total
    (``"total (min, med, max ...)\\n13.1 s (2.9 s, ...)"``). Average
    metrics print only ``"(min, med, max ...):\\n(1, 1, 1 ...)"`` and have no
    total: None."""
    if not text:
        return 0.0
    line = text.strip().splitlines()[-1]
    if line.startswith("("):
        return None
    m = _VALUE_RE.match(line)
    if not m:
        raise ValueError(f"unparseable metric value: {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return value
    if unit not in _UNITS:
        raise ValueError(f"unknown metric unit {unit!r} in {text!r}")
    return value * _UNITS[unit]


# --------------------------------------------------------------------------
# process-tree memory
# --------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_pids(root_pid: int) -> set[int]:
    """``root_pid`` and all its live descendants."""
    kids = _children_map()
    out, todo = set(), [root_pid]
    while todo:
        pid = todo.pop()
        out.add(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_rss_bytes(pids: set[int]) -> int:
    """Summed resident set size of the given processes."""
    total, page = 0, os.sysconf("SC_PAGE_SIZE")
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: set[int], timeout_s: float = 60.0) -> None:
    """Wait until none of ``pids`` runs; SIGKILL what outlives the timeout."""
    deadline = time.time() + timeout_s
    while any(_alive(p) for p in pids):
        if time.time() > deadline:
            for p in pids:
                if _alive(p):
                    try:
                        os.kill(p, signal.SIGKILL)
                    except OSError:
                        pass
            deadline = time.time() + timeout_s
        time.sleep(0.1)


class RssSampler:
    """Samples the tree RSS of a process on a background thread and keeps
    the peak. Use as a context manager around the timed work."""

    def __init__(self, pid: int, interval_s: float = 0.2):
        self.pid, self.interval_s = pid, interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(tree_pids(self.pid)))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False


# --------------------------------------------------------------------------
# contention probe
# --------------------------------------------------------------------------

_PROBE_BUF = b"\x5a" * (1 << 20)  # >2 KiB, so hashlib releases the GIL


def _burn(rounds: int) -> float:
    t0 = time.perf_counter()
    for _ in range(rounds):
        hashlib.sha256(_PROBE_BUF).digest()
    return time.perf_counter() - t0


def contention_probe(nproc: int, rounds: int = 60) -> dict:
    """Slowdown of a fixed sha256 burn when ``nproc`` threads run it at
    once, against one thread alone: ~1.0 when every core is free, ~k when
    the box is k-times oversubscribed. sha256 over a 1 MiB buffer runs
    without the GIL, so the threads really run in parallel."""
    solo = min(_burn(rounds) for _ in range(2))
    results: list[float] = []
    lock = threading.Lock()

    def work():
        t = _burn(rounds)
        with lock:
            results.append(t)

    threads = [threading.Thread(target=work) for _ in range(nproc)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return {"threads": nproc, "solo_s": solo,
            "reading": statistics.median(results) / solo}


def process_start_time(pid: int | None = None) -> float:
    """Wall-clock (``time.time()``) start of a process, from its start
    tick in ``/proc/<pid>/stat`` and the system uptime (10 ms resolution)."""
    with open(f"/proc/{pid or os.getpid()}/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))

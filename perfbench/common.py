"""Shared machinery of the benchmark: statistics, spans, host probes,
process-tree memory sampling and Spark's own accounting.

Nothing here imports pyspark at module level, so the statistics and span
helpers can be tested without a JVM.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

MIN_BEYOND = 10  # a percentile is reported only with this many samples above it


# --------------------------------------------------------------- statistics


def percentile(samples: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in (0, 100]) of ``samples``."""
    if not samples:
        raise ValueError("percentile of no samples")
    s = sorted(samples)
    rank = max(1, -(-len(s) * q // 100))  # ceil(n * q / 100)
    return s[int(rank) - 1]


def supports_percentile(n: int, q: float) -> bool:
    """True when at least ``MIN_BEYOND`` of ``n`` samples lie above the
    nearest-rank ``q``-th percentile."""
    if n == 0:
        return False
    rank = max(1, -(-n * q // 100))
    return n - int(rank) >= MIN_BEYOND


def median(samples: list[float]) -> float:
    return statistics.median(samples) if samples else 0.0


def slope(points: list[tuple[float, float]]) -> float:
    """Least-squares slope of ``(x, y)`` points; 0 for fewer than two."""
    if len(points) < 2:
        return 0.0
    xs = [p[0] for p in points]
    ys = [p[1] for p in points]
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    den = sum((x - mx) ** 2 for x in xs)
    if den == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in points) / den


# -------------------------------------------------------------------- spans


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out once
    at the end. A disabled tracer records nothing and costs one branch."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = self.add(name, time.perf_counter(), None, **attrs)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, start: float, end: float | None, parent: int | None = None, **attrs) -> dict:
        """Record a span whose times were measured elsewhere (e.g. a
        micro-batch from the streaming progress events)."""
        if parent is None and self._stack:
            parent = self._stack[-1]
        rec = {"id": len(self.spans), "name": name, "start": start, "end": end,
               "parent": parent, "run": self.run_id, **attrs}
        self.spans.append(rec)
        return rec

    def self_times(self) -> dict[int, float]:
        return self_times(self.spans)


def _covered(intervals: list[tuple[float, float]]) -> float:
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
    """Span duration minus the part of its interval its children cover
    (children clipped to the parent, overlaps counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = s["parent"]
        if p is None or p not in by_id:
            continue
        ps, pe = by_id[p]["start"], by_id[p]["end"]
        lo, hi = max(s["start"], ps), min(s["end"], pe)
        if hi > lo:
            children.setdefault(p, []).append((lo, hi))
    return {
        s["id"]: (s["end"] - s["start"]) - _covered(children.get(s["id"], []))
        for s in spans
    }


# -------------------------------------------------------------- host probes


def _sum_loop(n: int) -> int:
    s = 0
    for i in range(n):
        s += i
    return s


PROBE_N = 3_000_000


def cpu_probe() -> float:
    """Seconds for one pure-Python sum loop on one core."""
    t0 = time.perf_counter()
    if _sum_loop(PROBE_N) != PROBE_N * (PROBE_N - 1) // 2:
        raise RuntimeError("cpu probe computed a wrong sum")
    return time.perf_counter() - t0


def cpu_probe_mc(procs: int) -> float:
    """Seconds for ``procs`` simultaneous sum loops in a spawned pool
    sized like Spark's ``local[N]`` (pool start-up is not timed)."""
    with mp.get_context("spawn").Pool(procs) as pool:
        pool.map(_sum_loop, [1] * procs)  # start every worker first
        t0 = time.perf_counter()
        results = pool.map(_sum_loop, [PROBE_N] * procs)
        dt = time.perf_counter() - t0
    if any(r != PROBE_N * (PROBE_N - 1) // 2 for r in results):
        raise RuntimeError("multi-core probe computed a wrong sum")
    return dt


def probes(procs: int) -> dict[str, float]:
    return {"cpu_s": cpu_probe(), "mc_s": cpu_probe_mc(procs)}


# ------------------------------------------------------------ memory (RSS)


def _tree_rss(root: int) -> dict[int, tuple[str, int]]:
    """``pid -> (command name, RSS bytes)`` for ``root`` and all its
    descendants, read from /proc."""
    parent: dict[int, int] = {}
    info: dict[int, tuple[str, int]] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while being read
        # the command name is parenthesised; field 4 (ppid) follows it
        head, tail = stat.rsplit(")", 1)
        parent[int(d)] = int(tail.split()[1])
        info[int(d)] = (head.split("(", 1)[1], pages * page)
    kids: dict[int, list[int]] = {}
    for pid, pp in parent.items():
        kids.setdefault(pp, []).append(pid)
    tree, frontier = {root}, [root]
    while frontier:
        for c in kids.get(frontier.pop(), []):
            if c not in tree:
                tree.add(c)
                frontier.append(c)
    return {p: info[p] for p in tree if p in info}


# ------------------------------------------------------ process cleanup


def become_subreaper() -> None:
    """Have orphaned descendants (e.g. Python workers of a JVM that has
    ended) re-parented to this process, so :func:`reap_children` sees and
    waits for them. Linux only; elsewhere a no-op."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def stop_jvm(timeout_s: float = 30.0) -> None:
    """End the JVM pyspark launched and wait for it. ``SparkSession.stop()``
    leaves it running until this process exits; closing its stdin makes it
    exit now (pyspark's gateway server exits on EOF)."""
    import sys

    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    # not gw.close(): it can block on a py4j callback connection whose
    # reader thread is mid-read; those threads are daemons and end with us
    proc = getattr(gw, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _reap_exited() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def reap_children(grace_s: float = 10.0) -> list[int]:
    """Terminate every descendant still running, wait until each has ended
    (SIGKILL after ``grace_s``), and return the pids that had to be
    signalled."""
    import signal

    try:  # the spawn pool's resource tracker ignores SIGTERM
        from multiprocessing import resource_tracker

        resource_tracker._resource_tracker._stop()
    except Exception:  # noqa: BLE001 - absent on this Python, or never started
        pass
    me, signalled = os.getpid(), []
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + grace_s
        sent: set[int] = set()
        while True:
            _reap_exited()
            left = [p for p in _tree_rss(me) if p != me]
            if not left:
                return signalled
            for p in left:
                if p not in sent:
                    sent.add(p)
                    signalled.append(p)
                    try:
                        os.kill(p, sig)
                    except ProcessLookupError:
                        pass
            if time.monotonic() > deadline:
                break
            time.sleep(0.05)
    return signalled


class RssSampler:
    """Background thread sampling the benchmark's process tree (the JVM
    and its Python workers are descendants of this process)."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self.peak_by_command: dict[str, int] = {}
        self.max_processes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        tree = _tree_rss(os.getpid())
        self.peak = max(self.peak, sum(rss for _, rss in tree.values()))
        self.max_processes = max(self.max_processes, len(tree))
        by: dict[str, int] = {}
        for cmd, rss in tree.values():
            by[cmd] = by.get(cmd, 0) + rss
        for cmd, rss in by.items():
            self.peak_by_command[cmd] = max(self.peak_by_command.get(cmd, 0), rss)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


# ------------------------------------------------- Spark's own accounting

STAGE_FIELDS = ("executor_run_s", "executor_cpu_s", "tasks", "input_bytes",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


class SparkAccounting:
    """Reads the live status store (works with ``spark.ui.enabled=false``).

    Work is attributed by job group: :meth:`group` tags every job started
    inside it, and :meth:`stats` sums the stages those jobs ran."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        gw = self.sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0
        self._empty = gw.jvm.java.util.ArrayList()
        self._n = 0

    @contextmanager
    def group(self, label: str):
        self._n += 1
        gid = f"perfbench-{self._n}"
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def stats(self, gid: str) -> dict[str, float]:
        self._jsc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(("jobs", "stages", "task_skew_max") + STAGE_FIELDS, 0.0)
        for jid in self.sc.statusTracker().getJobIdsForGroup(gid):
            out["jobs"] += 1
            ids = self._store.job(jid).stageIds().mkString(",")
            for sid in (int(x) for x in ids.split(",") if x):
                self._add_stage(out, sid)
        return out

    def _add_stage(self, out: dict, sid: int) -> None:
        from py4j.protocol import Py4JError

        try:
            sd = self._store.stageAttempt(sid, 0, False, self._empty, True, self._quantiles)._1()
        except Py4JError:  # the store has no attempt 0 of a stage that never ran
            return
        if sd.status().toString() != "COMPLETE":
            return  # skipped stages (reused shuffle output) did no work
        out["stages"] += 1
        out["tasks"] += sd.numTasks()
        out["executor_run_s"] += sd.executorRunTime() / 1e3
        out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        out["input_bytes"] += sd.inputBytes()
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        dist = sd.taskMetricsDistributions()
        if dist.isDefined():
            med, mx = (float(x) for x in dist.get().executorRunTime().mkString(",").split(","))
            if med > 0:
                out["task_skew_max"] = max(out["task_skew_max"], mx / med)


_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_SIZE_RE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")


def parse_size(text: str) -> float:
    """Bytes from a formatted SQL size metric: the total, which is the first
    size in the text (``"total (min, med, max ...)\\n2.2 MiB (425.0 KiB, ...)"``)."""
    m = _SIZE_RE.search(text.split("\n", 1)[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)]


def last_sql_size_metrics(spark, names: tuple[str, ...]) -> dict[str, float]:
    """Size metrics (by display name) of the session's latest SQL execution,
    from the SQL status store. A metric absent from this Spark reads 0."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = dict.fromkeys(names, 0.0)
    if execs.size() == 0:
        return out
    ex = execs.apply(execs.size() - 1)
    values = store.executionMetrics(ex.executionId())
    metrics = ex.metrics()
    seen: set[int] = set()
    for i in range(metrics.size()):
        m = metrics.apply(i)
        acc = m.accumulatorId()
        if m.name() not in out or acc in seen:
            continue
        seen.add(acc)
        v = values.get(acc)
        if v.isDefined():
            out[m.name()] += parse_size(v.get())
    return out

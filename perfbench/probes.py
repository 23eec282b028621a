"""Measurement from outside the program: spans, the host's state, process
tree memory and Spark's event log.

Nothing here imports the program. Spans are kept in memory and written
when the run ends; the event log is read after the timed phase.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    pass_id: str | None
    start: float
    end: float = 0.0


class Tracer:
    """Spans around calls into the program's public functions. A disabled
    tracer records nothing, so untraced runs take the same code path."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.pass_id: str | None = None

    def span(self, name: str):
        return _SpanCtx(self, name)

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per span name: count, total and self seconds (duration minus the
        part of it covered by child spans)."""
        child_cover: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_cover[s.parent] = child_cover.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            d = out.setdefault(s.name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
            dur = s.end - s.start
            d["count"] += 1
            d["total_s"] += dur
            d["self_s"] += max(0.0, dur - child_cover.get(s.sid, 0.0))
        return {k: {kk: round(vv, 6) for kk, vv in v.items()} for k, v in out.items()}

    def dump(self, path: str) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "parent": s.parent, "pass": s.pass_id,
                    "start_s": round(s.start - t0, 6), "end_s": round(s.end - t0, 6),
                }) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.t = tracer
        self.name = name
        self.span: Span | None = None

    def __enter__(self) -> _SpanCtx:
        t = self.t
        if t.enabled:
            parent = t._stack[-1] if t._stack else None
            self.span = Span(len(t.spans), self.name, parent, t.pass_id, time.perf_counter())
            t.spans.append(self.span)
            t._stack.append(self.span.sid)
        return self

    def __exit__(self, *exc) -> None:
        if self.span is not None:
            self.span.end = time.perf_counter()
            self.t._stack.pop()


# ---------------------------------------------------------------------------
# Process tree memory
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, comm, rss bytes) for every visible process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                raw = f.read().decode("latin-1")
        except OSError:
            continue
        rp = raw.rfind(")")
        comm = raw[raw.find("(") + 1:rp]
        rest = raw[rp + 2:].split()
        out[int(d)] = (int(rest[1]), comm, int(rest[21]) * _PAGE)
    return out


def descendants(root: int, table: dict[int, tuple[int, str, int]] | None = None) -> list[int]:
    table = table if table is not None else _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def _is_spark_daemon(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


class TreeSampler:
    """Samples the RSS of this process's tree from a background thread.

    Records the peak of the tree's summed RSS, the peak RSS of the largest
    Python worker (children of ``pyspark.daemon``) and every worker pid
    seen, so the timed phase can count workers started inside it."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval = interval_s
        self.root = os.getpid()
        self.peak_tree = 0
        self.peak_worker = 0
        self.peak_driver = 0
        self.workers: dict[int, float] = {}  # pid -> first seen (perf_counter)
        self._daemons: set[int] = set()
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def start(self) -> TreeSampler:
        self._thread.start()
        return self

    def reset_peaks(self) -> None:
        with self._lock:
            self.peak_tree = 0
            self.peak_worker = 0
            self.peak_driver = 0

    def sample(self) -> None:
        table = _proc_table()
        pids = descendants(self.root, table)
        now = time.perf_counter()
        tree = table[self.root][2] if self.root in table else 0
        biggest = 0
        for p in pids:
            ppid, comm, _ = table[p]
            # the worker daemon is the python child of the JVM; its forks
            # are the workers
            if (p not in self._daemons and comm.startswith("python")
                    and table.get(ppid, (0, ""))[1] == "java" and _is_spark_daemon(p)):
                self._daemons.add(p)
        for p in pids:
            ppid, comm, rss = table[p]
            tree += rss
            if ppid in self._daemons:
                biggest = max(biggest, rss)
                self.workers.setdefault(p, now)
        with self._lock:
            self.peak_tree = max(self.peak_tree, tree)
            self.peak_worker = max(self.peak_worker, biggest)
            self.peak_driver = max(self.peak_driver, table[self.root][2])

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            try:
                self.sample()
            except (OSError, KeyError, IndexError, ValueError):
                continue  # a process vanished mid-read

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def wait_tree_gone(root: int, timeout_s: float = 30.0) -> list[int]:
    """Wait until ``root`` has no descendants; kill stragglers at the
    deadline. Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if not descendants(root):
            return []
        time.sleep(0.2)
    left = descendants(root)
    for p in left:
        try:
            os.kill(p, 9)
        except OSError:
            pass
    for _ in range(50):
        if not descendants(root):
            break
        time.sleep(0.1)
    return left


# ---------------------------------------------------------------------------
# Host state
# ---------------------------------------------------------------------------


def _cpu_times() -> tuple[int, int]:
    """(total jiffies, steal jiffies) from /proc/stat."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(x) for x in parts]
    return sum(vals[:8]), vals[7] if len(vals) > 7 else 0


class StealClock:
    """CPU steal (the share of the host's CPU time the hypervisor gave to
    other guests) between successive laps, from /proc/stat."""

    def __init__(self) -> None:
        self._last = _cpu_times()

    def lap(self) -> float:
        now = _cpu_times()
        dt = now[0] - self._last[0]
        pct = 100.0 * (now[1] - self._last[1]) / dt if dt else 0.0
        self._last = now
        return pct


def calibration_s(n: int = 300_000) -> float:
    """A fixed program-independent CPU loop (pure Python integer work),
    best of three. It tells host drift from a regression; no metric is
    normalised by it."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        acc = 0
        for i in range(n):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        best = min(best, time.perf_counter() - t)
    return best


@dataclass
class Ambient:
    """The host's state around one run, for reading only."""

    nproc: int = field(default_factory=lambda: os.cpu_count() or 1)
    width: int = 0
    load_before: tuple[float, float, float] = (0.0, 0.0, 0.0)
    load_after: tuple[float, float, float] = (0.0, 0.0, 0.0)
    steal_pct: float = 0.0
    calib_before_s: float = 0.0
    calib_after_s: float = 0.0
    versions: dict[str, str] = field(default_factory=dict)
    _steal: StealClock | None = None

    def begin(self, width: int) -> None:
        self.width = width
        self.load_before = os.getloadavg()
        self._steal = StealClock()
        self.calib_before_s = calibration_s()

    def end(self, versions: dict[str, str]) -> None:
        self.calib_after_s = calibration_s()
        self.load_after = os.getloadavg()
        self.steal_pct = self._steal.lap()
        self.versions = dict(versions)

    def record(self) -> dict:
        d = {k: v for k, v in self.__dict__.items() if not k.startswith("_")}
        for k in ("steal_pct", "calib_before_s", "calib_after_s"):
            d[k] = round(d[k], 6)
        return d


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    paths = sorted(os.path.join(r, n) for r, _, ns in os.walk(log_dir) for n in ns)
    for path in paths:
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    try:
                        events.append(json.loads(line))
                    except json.JSONDecodeError:
                        continue  # a line still being written
    return events


def _jobs(events: list[dict], groups: set[str], desc_prefix: str = "") -> dict[int, list[int]]:
    """Job id -> stage ids, for jobs of the given job groups (and, when
    given, whose description starts with ``desc_prefix``)."""
    jobs = {}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            if props.get("spark.jobGroup.id") in groups and str(
                    props.get("spark.job.description", "")).startswith(desc_prefix):
                jobs[e["Job ID"]] = e.get("Stage IDs", [])
    return jobs


def write_stage_s(events: list[dict], groups: set[str]) -> float:
    """Summed wall time of the stages, in the given job groups, whose tasks
    wrote output files."""
    stage_ids = {s for ss in _jobs(events, groups).values() for s in ss}
    writers = {
        e["Stage ID"] for e in events
        if e.get("Event") == "SparkListenerTaskEnd" and e.get("Stage ID") in stage_ids
        and ((e.get("Task Metrics") or {}).get("Output Metrics") or {}).get("Bytes Written", 0) > 0
    }
    total = 0.0
    for e in events:
        if e.get("Event") == "SparkListenerStageCompleted":
            si = e.get("Stage Info", {})
            if si.get("Stage ID") in writers:
                total += (si.get("Completion Time", 0) - si.get("Submission Time", 0)) / 1e3
    return total


def spark_rollup(events: list[dict], groups: set[str], wall_s: float, width: int,
                 desc_prefix: str = "") -> dict:
    """Executor-side totals over the jobs of the given job groups."""
    jobs = _jobs(events, groups, desc_prefix)
    stage_ids = {s for ss in jobs.values() for s in ss}
    ran_stages: set[int] = set()
    tot = dict(tasks=0, run_ms=0.0, cpu_ns=0.0, gc_ms=0.0, delay_ms=0.0, shuffle_w=0,
               shuffle_r=0, spill=0, peak_mem=0, input_b=0)
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd" or e.get("Stage ID") not in stage_ids:
            continue
        ran_stages.add(e["Stage ID"])
        info, m = e.get("Task Info", {}), e.get("Task Metrics") or {}
        tot["tasks"] += 1
        run = m.get("Executor Run Time", 0)
        tot["run_ms"] += run
        tot["cpu_ns"] += m.get("Executor CPU Time", 0)
        tot["gc_ms"] += m.get("JVM GC Time", 0)
        dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
        tot["delay_ms"] += max(0, dur - run - m.get("Executor Deserialize Time", 0)
                               - m.get("Result Serialization Time", 0))
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        tot["shuffle_w"] += sw.get("Shuffle Bytes Written", 0)
        tot["shuffle_r"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        tot["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        tot["peak_mem"] = max(tot["peak_mem"], m.get("Peak Execution Memory", 0))
        tot["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    mb = 1e6
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(ran_stages),
        "spark.tasks": tot["tasks"],
        "spark.executor_run_s": tot["run_ms"] / 1e3,
        "spark.executor_cpu_s": tot["cpu_ns"] / 1e9,
        "spark.gc_s": tot["gc_ms"] / 1e3,
        "spark.scheduler_delay_s": tot["delay_ms"] / 1e3,
        "spark.busy_ratio": (tot["run_ms"] / 1e3) / (wall_s * width) if wall_s else 0.0,
        "spark.shuffle_write_mb": tot["shuffle_w"] / mb,
        "spark.shuffle_read_mb": tot["shuffle_r"] / mb,
        "spark.spill_mb": tot["spill"] / mb,
        "spark.peak_exec_mem_mb": tot["peak_mem"] / mb,
        "spark.input_mb": tot["input_b"] / mb,
    }


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0

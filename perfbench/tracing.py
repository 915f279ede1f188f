"""Span recorder, worker-RSS sampler and Spark event-log reader.

Everything here observes the engine from outside: spans wrap calls the
benchmark makes into the engine's public functions, the RSS sampler reads
``/proc``, and task/shuffle/job figures come from Spark's own event log.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span tree; written out once, at the end of a run.

    A disabled tracer still times the outermost calls the caller asks for
    (``span`` yields either way) but records nothing.
    """

    def __init__(self, run_id: str, enabled: bool = True) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.run_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s.duration for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s, st in zip(self.spans, selfs):
                f.write(json.dumps({**asdict(s), "self": st}) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
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


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its direct
    children cover (children clipped to the parent's interval)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                kids.setdefault(s.parent, []).append((lo, hi))
    return [s.duration - _covered(kids.get(i, [])) for i, s in enumerate(spans)]


# -- process tree and host steal ----------------------------------------------


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid → (ppid, rss bytes) for every visible process."""
    page = os.sysconf("SC_PAGE_SIZE")
    out: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # comm may hold spaces or parens; fields resume after the last ')'
        fields = stat[stat.rfind(b")") + 2 :].split()
        out[int(name)] = (int(fields[1]), int(fields[21]) * page)
    return out


def _descendants(table: dict[int, tuple[int, int]], root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, row in table.items():
        kids.setdefault(row[0], []).append(pid)
    todo, seen = list(kids.get(root, [])), []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(kids.get(pid, []))
    return seen


def steal_seconds(cpus: set[int], stat_path: str = "/proc/stat") -> float:
    """CPU time the hypervisor has taken from ``cpus`` since boot (the
    ``steal`` column of their ``cpuN`` lines)."""
    ticks = 0
    with open(stat_path) as f:
        for line in f:
            name, _, rest = line.partition(" ")
            if name.startswith("cpu") and name[3:].isdigit() and int(name[3:]) in cpus:
                ticks += int(rest.split()[7])
    return ticks / os.sysconf("SC_CLK_TCK")


class CoreClock:
    """Core-seconds the benchmark's cores were available: cores × wall time
    minus the time the host stole from those cores. Idle cores count (a
    straggler costs its idle neighbours' time), stolen time does not."""

    def __init__(self, cpus: set[int]) -> None:
        self.cpus = cpus

    def __call__(self) -> float:
        wall = time.perf_counter()
        return len(self.cpus) * wall - steal_seconds(self.cpus)


def _is_pyspark_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return False
    return b"pyspark" in cmd and b"python" in cmd.split(b"\0", 1)[0]


class RssSampler:
    """One thread that polls ``/proc`` for Python worker processes started
    under this process (JVM → pyspark daemon → forked workers) and keeps
    the highest RSS any single worker reached."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._workers: set[int] = set()

    def _sample(self) -> None:
        table = _proc_table()
        for pid in _descendants(table, os.getpid()):
            if pid not in self._workers and not _is_pyspark_worker(pid):
                continue
            self._workers.add(pid)
            self.peak_bytes = max(self.peak_bytes, table[pid][1])

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("RSS sampler thread did not stop")

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1024 * 1024)


# -- Spark event log --------------------------------------------------------


@dataclass
class JobStats:
    task_s: list[float]  # every task's run time
    shuffle_write_bytes: int
    jobs: int

    @property
    def shuffle_mb(self) -> float:
        return self.shuffle_write_bytes / (1024 * 1024)


def _event_lines(path: str) -> Iterator[str]:
    """Lines of a single-file log, or of a rolling log directory's
    ``events_<n>_…`` files in order."""
    if os.path.isdir(path):
        names = sorted(
            (n for n in os.listdir(path) if n.startswith("events_")),
            key=lambda n: int(n.split("_")[1]),
        )
        paths = [os.path.join(path, n) for n in names]
    else:
        paths = [path]
    for p in paths:
        with open(p) as f:
            yield from f


def read_event_log(path: str) -> dict[str, JobStats]:
    """Group task run times and shuffle bytes by the job description the
    benchmark set (``SparkContext.setJobDescription``) before each call."""
    stage_desc: dict[int, str] = {}
    by_desc: dict[str, JobStats] = {}
    for line in _event_lines(path):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            if desc is None:
                continue
            by_desc.setdefault(desc, JobStats([], 0, 0)).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_desc[sid] = desc
        elif kind == "SparkListenerTaskEnd":
            desc = stage_desc.get(ev["Stage ID"])
            if desc is None:
                continue
            st = by_desc[desc]
            info = ev["Task Info"]
            dur = (info["Finish Time"] - info["Launch Time"]) / 1000.0
            st.task_s.append(dur)
            metrics = ev.get("Task Metrics") or {}
            sw = metrics.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += int(sw.get("Shuffle Bytes Written", 0))
    return by_desc


def find_event_log(log_dir: str) -> str:
    """The one finished application log in ``log_dir``."""
    logs = [
        os.path.join(log_dir, n)
        for n in os.listdir(log_dir)
        if not n.endswith(".inprogress") and not n.startswith(".")
    ]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    return logs[0]

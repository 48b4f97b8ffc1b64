"""Outside-only measurement: process tree, Spark status store, spans.

Nothing here touches the package. CPU and memory come from ``/proc``
for this process and its descendants (in local mode: the JVM and the
Python workers the JVM forks). Stage metrics come from the JVM's
``AppStatusStore`` through the py4j gateway, scoped to one job group.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_stat(pid: int) -> tuple[int, float] | None:
    """(ppid, CPU seconds incl. reaped children) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            parts = f.read().rsplit(") ", 1)[1].split()
    except (OSError, IndexError):
        return None
    # fields after comm: state(0) ppid(1) ... utime(11) stime(12)
    # cutime(13) cstime(14); reaped children roll into their reaper
    return int(parts[1]), sum(int(v) for v in parts[11:15]) / _HZ


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError):
        return 0


def _tree() -> tuple[dict[int, list[int]], dict[int, float]]:
    """Children map and CPU seconds of every live process."""
    kids: dict[int, list[int]] = {}
    cpu: dict[int, float] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st is not None:
                kids.setdefault(st[0], []).append(int(name))
                cpu[int(name)] = st[1]
    return kids, cpu


def descendants() -> list[int]:
    """This process and every live descendant."""
    kids, _ = _tree()
    out, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


@dataclass
class CpuSplit:
    """CPU seconds of the process tree, split by role."""

    driver: float = 0.0  # this Python process (benchmark + PySpark client)
    jvm: float = 0.0  # the JVM, without its JIT compiler threads
    jit: float = 0.0  # the JVM's JIT compiler threads
    python_workers: float = 0.0

    @property
    def work(self) -> float:
        """Everything but JIT compilation, which is JVM warm-up whose
        amount per pass varies from run to run."""
        return self.driver + self.jvm + self.python_workers

    def __sub__(self, other: "CpuSplit") -> "CpuSplit":
        return CpuSplit(
            self.driver - other.driver,
            self.jvm - other.jvm,
            self.jit - other.jit,
            self.python_workers - other.python_workers,
        )


def _jit_cpu(pid: int) -> float:
    """CPU seconds of ``pid``'s HotSpot compiler threads (C1/C2)."""
    total = 0.0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                head, rest = f.read().rsplit(") ", 1)
        except OSError:
            continue
        if "CompilerThre" in head:
            parts = rest.split()
            total += (int(parts[11]) + int(parts[12])) / _HZ
    return total


def cpu_split() -> CpuSplit:
    """Per-role CPU of the live tree: a ``java`` process below this one
    is the JVM, every process below the JVM is a Python worker (the
    ``pyspark.daemon`` and the workers it forks and reaps)."""
    kids, cpu = _tree()
    out = CpuSplit()
    stack = [(os.getpid(), "driver")]
    while stack:
        pid, role = stack.pop()
        if role == "jvm":
            role = "python_workers"
        elif role == "driver" and pid != os.getpid():
            exe = _cmdline(pid).split(" ", 1)[0]
            if os.path.basename(exe) == "java":
                role = "jvm"
                jit = _jit_cpu(pid)
                out.jit += jit
                out.jvm -= jit
        setattr(out, role, getattr(out, role) + cpu.get(pid, 0.0))
        stack.extend((k, role) for k in kids.get(pid, ()))
    return out


class RssSampler:
    """Peak summed RSS of the process tree, sampled on a thread while
    a ``with`` block runs. The pid list is refreshed every 10 samples
    so Python workers forked mid-block are counted."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        pids: list[int] = []
        i = 0
        while not self._stop.is_set():
            if i % 10 == 0:
                pids = descendants()
            i += 1
            self.peak_bytes = max(self.peak_bytes, sum(_rss_bytes(p) for p in pids))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def host_context() -> dict:
    """Load average and cumulative steal seconds: context, never a gate."""
    try:
        with open("/proc/stat") as f:
            steal = int(f.readline().split()[8]) / _HZ
    except (OSError, IndexError, ValueError):
        steal = 0.0
    return {"loadavg1": os.getloadavg()[0], "steal_s": steal}


# ---------------------------------------------------------------- Spark


@dataclass
class StageTotals:
    """Sums over the completed stages of one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0
    executor_cpu_s: float = 0.0
    #: executor-run-time-weighted mean over stages of max/median task time
    task_skew: float = 1.0


def stage_totals(spark, group: str) -> StageTotals:
    """Read the status store for every stage of ``group``'s jobs."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    quantiles = sc._gateway.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    out = StageTotals()
    job_ids = tracker.getJobIdsForGroup(group)
    out.jobs = len(job_ids)
    stage_ids = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    skew_num = skew_den = 0.0
    for s in sorted(stage_ids):
        it = store.stageData(s, False, jvm.java.util.ArrayList(), True, quantiles).iterator()
        while it.hasNext():
            d = it.next()
            if d.status().toString() != "COMPLETE":
                continue
            out.stages += 1
            out.tasks += d.numCompleteTasks()
            out.input_bytes += d.inputBytes()
            out.shuffle_read_bytes += d.shuffleReadBytes()
            out.shuffle_write_bytes += d.shuffleWriteBytes()
            out.spill_bytes += d.diskBytesSpilled()
            out.gc_s += d.jvmGcTime() / 1e3
            out.executor_cpu_s += d.executorCpuTime() / 1e9
            dist = d.taskMetricsDistributions()
            run_ms = d.executorRunTime()
            if dist.isDefined() and run_ms > 0:
                q = dist.get().executorRunTime()
                med, mx = q.apply(0), q.apply(1)
                skew_num += run_ms * (mx / med if med > 0 else 1.0)
                skew_den += run_ms
    if skew_den:
        out.task_skew = skew_num / skew_den
    return out


# ---------------------------------------------------------------- spans


@dataclass
class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out
    once by :meth:`dump`. Disabled tracers record nothing, so untraced
    passes pay only a branch per boundary."""

    run_id: str
    enabled: bool = False
    spans: list[dict] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def span(self, name: str):
        return _Span(self, name)

    def self_times(self, since: int = 0) -> dict[str, float]:
        """Per-name self time (duration minus child durations) of the
        spans recorded from index ``since`` on."""
        own: dict[int, float] = {}
        for i, s in enumerate(self.spans[since:], since):
            own[i] = own.get(i, 0.0) + s["end"] - s["start"]
            if s["parent"] is not None and s["parent"] >= since:
                own[s["parent"]] = own.get(s["parent"], 0.0) - (s["end"] - s["start"])
        out: dict[str, float] = {}
        for i, t in own.items():
            name = self.spans[i]["name"]
            out[name] = out.get(name, 0.0) + t
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t = self.tracer
        if t.enabled:
            self.idx = len(t.spans)
            t.spans.append({
                "name": self.name,
                "start": time.perf_counter(),
                "end": None,
                "parent": t._stack[-1] if t._stack else None,
                "run": t.run_id,
            })
            t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        if t.enabled:
            t.spans[self.idx]["end"] = time.perf_counter()
            t._stack.pop()


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0

"""Measurement logic of the benchmark that needs no Spark: percentiles,
spans and self time, the Spark event-log join, the process tree's CPU
time, and the RSS sampler.

Layers are timed from outside only: a span wraps one call the harness
makes into a package function. Nothing here patches product code.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

#: Samples a tail percentile must leave beyond it.
TAIL_BEYOND = 10

#: Span-name prefix → package layer. Spans named ``bench.*`` are the
#: harness's own work (setup bookkeeping, verification).
LAYERS = {
    "session": "session", "sources": "sources", "pipeline": "pipeline",
    "tfidf": "ml", "classify": "ml", "plans": "plans",
    "ann_index": "operators", "bm25": "operators", "serving": "streaming",
    "host": "host", "bench": "bench",
}

#: The per-span Spark fields the event-log join reports.
SPARK_FIELDS = ("task_cpu_s", "task_wait_s", "shuffle_mb", "jobs")


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(samples) -> tuple[float, float, int] | None:
    """The highest percentile with at least ``TAIL_BEYOND`` samples
    beyond it: the value at ascending rank ``n - TAIL_BEYOND``.
    Returns (value, percentile, n), or None below ``TAIL_BEYOND + 1``
    samples."""
    n = len(samples)
    if n <= TAIL_BEYOND:
        return None
    rank = n - TAIL_BEYOND  # 1-based; exactly TAIL_BEYOND samples lie above it
    return float(sorted(samples)[rank - 1]), 100.0 * rank / n, n


def layer_of(span_name: str) -> str:
    return LAYERS.get(span_name.split(".", 1)[0], "bench")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str


class Tracer:
    """Closed-loop span recorder: one client thread, so spans nest.

    ``on_enter(label)`` runs with a span's label as it opens, and
    with the enclosing span's label (None at top level) as it closes;
    the traced run points it at ``setJobDescription``."""

    def __init__(self, run_id: str, on_enter=None, clock=time.perf_counter):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._on_enter = on_enter
        self._clock = clock

    def label(self, span: Span) -> str:
        return f"bench|{self.run_id}|{span.id}|{span.name}"

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, self._clock(), 0.0,
                 parent.id if parent else None, self.run_id)
        self.spans.append(s)
        self._stack.append(s)
        if self._on_enter:
            self._on_enter(self.label(s))
        try:
            yield s
        finally:
            s.end = self._clock()
            self._stack.pop()
            if self._on_enter:
                self._on_enter(self.label(parent) if parent else None)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": [asdict(s) for s in self.spans], **extra}, f)


def _covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → its duration minus the part its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        inside = [(max(a, s.start), min(b, s.end)) for a, b in children.get(s.id, [])]
        out[s.id] = (s.end - s.start) - _covered([iv for iv in inside if iv[1] > iv[0]])
    return out


def layer_self_times(spans: list[Span], wall: float) -> dict[str, float]:
    """Self time summed per layer, plus ``unattributed``: the part of
    ``wall`` no top-level span covers. The values sum to ``wall``."""
    st = self_times(spans)
    out: dict[str, float] = {layer: 0.0 for layer in set(LAYERS.values())}
    for s in spans:
        out[layer_of(s.name)] += st[s.id]
    top = [(s.start, s.end) for s in spans if s.parent is None]
    out["unattributed"] = wall - _covered(top)
    return out


def read_event_logs(directory: str) -> list[dict]:
    """Every JSON event of every event-log file under ``directory``."""
    events = []
    for root, _dirs, files in os.walk(directory):
        for name in sorted(files):
            if name.endswith(".crc"):
                continue
            with open(os.path.join(root, name)) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


def join_event_log(events: list[dict], spans: list[Span], run_id: str) -> tuple[dict, dict]:
    """Attribute each Spark job to the span named in its job
    description (``Tracer.label``) and sum its tasks' figures.

    Returns ``(per_span_name, totals)``: per span name the
    ``SPARK_FIELDS``; totals hold the workload's ``gc_s``,
    ``spill_mb``, ``failed_tasks``, ``jobs`` and ``jobs_unattributed``.
    A stage belongs to the first job that lists it (later jobs skip
    it)."""
    by_id = {s.id: s.name for s in spans}
    prefix = f"bench|{run_id}|"
    stage_owner: dict[tuple[int, int], str | None] = {}
    per: dict[str, dict] = {}
    totals = {"gc_s": 0.0, "spill_mb": 0.0, "failed_tasks": 0, "jobs": 0, "jobs_unattributed": 0}

    def row(name):
        return per.setdefault(name, dict.fromkeys(SPARK_FIELDS, 0.0))

    # Stage ids are unique per application; each log is one application.
    app = 0
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerApplicationStart":
            app += 1
        elif kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
            name = None
            if desc.startswith(prefix):
                span_id = int(desc.split("|")[2])
                name = by_id.get(span_id)
            totals["jobs"] += 1
            if name is None:
                totals["jobs_unattributed"] += 1
            else:
                row(name)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_owner.setdefault((app, sid), name)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            if reason != "Success":
                totals["failed_tasks"] += 1
            totals["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            totals["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 2**20
            name = stage_owner.get((app, ev.get("Stage ID")))
            if name is None:
                continue
            r = row(name)
            run_s = m.get("Executor Run Time", 0) / 1e3
            cpu_s = m.get("Executor CPU Time", 0) / 1e9
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            r["task_cpu_s"] += cpu_s
            r["task_wait_s"] += max(run_s - cpu_s, 0.0)
            r["shuffle_mb"] += (rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                                + wr.get("Shuffle Bytes Written", 0)) / 2**20
    return per, totals


def _proc_stats() -> dict[int, list[str]]:
    """pid → the fields of ``/proc/<pid>/stat`` after the command name
    (index 0 is the state, 1 the parent pid, 11-14 utime, stime, cutime,
    cstime in clock ticks)."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                out[int(entry)] = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
    return out


def _tree(stats: dict[int, list[str]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_pids(root: int) -> list[int]:
    """``root`` and every process descended from it."""
    return _tree(_proc_stats(), root)


CLOCK_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")

#: Name prefixes (as /proc shows them, cut to 15 characters) of the
#: JVM's JIT compiler threads. Their CPU is left out of ``tree_cpu_s``:
#: compiling is warm-up whose amount and timing vary from run to run,
#: and it was 65 of the JVM's 113 CPU-seconds in one ma_pipeline run.
#: The JVM must keep a fixed set of them
#: (``-XX:-UseDynamicNumberOfCompilerThreads``), else a compiler thread
#: that exits takes its time into the process total.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")

#: (pid, start time) → that process's JIT compiler thread ids.
_jit_tids: dict[tuple[int, str], list[int]] = {}


def _task_ticks(pid: int, tid: int) -> int:
    try:
        with open(f"/proc/{pid}/task/{tid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return int(fields[11]) + int(fields[12])


def _jit_ticks(pid: int, fields: list[str]) -> int:
    key = (pid, fields[19])
    if key not in _jit_tids:
        tids = []
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if f.read().startswith(JIT_THREADS):
                        tids.append(int(tid))
        except OSError:
            pass
        _jit_tids[key] = tids
    return sum(_task_ticks(pid, tid) for tid in _jit_tids[key])


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds, user plus system, that ``root`` (default: this
    process) and its live descendants have used, including the children
    each has reaped, less the JIT compiler threads (``JIT_THREADS``).
    Time the hypervisor gave to other guests (steal) is not charged to a
    process, so unlike wall time this does not grow when the host is
    busy."""
    stats = _proc_stats()
    ticks = 0
    for pid in _tree(stats, root or os.getpid()):
        fields = stats.get(pid)
        if fields:
            ticks += sum(int(x) for x in fields[11:15]) - _jit_ticks(pid, fields)
    return ticks * CLOCK_TICK_S


def host_cpu_ticks() -> list[int]:
    """The host-wide CPU time counters of ``/proc/stat`` (user, nice,
    system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``host_cpu_ticks`` readings, in percent. Runs with high steal are
    slow for reasons outside the program."""
    d = [b - a for a, b in zip(before, after)]
    return round(100.0 * d[7] / sum(d), 1) if sum(d) else 0.0


def _pss_kb(pid: int) -> int:
    """Resident memory of ``pid`` with each shared page divided among
    the processes that map it (PSS), so pages the forked Python workers
    share are counted once when summed."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of the summed resident memory (PSS) of this process and all
    its descendants (the JVM and the Python workers), sampled every
    ``interval`` s."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        total = sum(_pss_kb(p) for p in tree_pids(os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

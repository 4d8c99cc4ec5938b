"""Per-layer readings taken from outside the program.

Nothing here reaches into the engine: layer numbers come from
``StreamingQuery.recentProgress`` of every active query, from ``/proc``
for the JVM and the Spark Python workers, and from timers around the
public calls the workloads make.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """Spans kept in memory and written out once, at the end of a run.

    A span is (step, name, start, end, parent, attrs); every span of one
    step shares the step id. With tracing off nothing is recorded, and
    ``enabled`` tells the workloads to skip the extra per-step
    collection (progress, direct IQ queries).
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.samples: dict[str, list[float]] = {}

    @contextmanager
    def span(self, step: int, name: str, parent: str | None = None, **attrs):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            if self.enabled:
                self.spans.append({
                    "step": step, "name": name, "parent": parent,
                    "start": t0, "end": time.perf_counter(), **attrs,
                })

    def add_progress(self, step: int, events: dict[str, list[dict]]) -> None:
        """One record per micro-batch of the step, carrying the query's
        ``durationMs`` split in place of start and end."""
        for role, ps in events.items():
            for p in ps:
                self.spans.append({"step": step, "name": f"progress.{role}",
                                   "parent": "step", "batchId": p["batchId"],
                                   "durationMs": p.get("durationMs", {})})

    def add(self, name: str, value: float) -> None:
        """One per-step sample of a per-layer metric (tracing on only)."""
        if self.enabled:
            self.samples.setdefault(name, []).append(value)

    def median(self, name: str) -> float:
        vals = self.samples.get(name)
        return float(statistics.median(vals)) if vals else 0.0

    def write(self, path: str, header: dict) -> None:
        with open(path, "w") as f:
            f.write(json.dumps({"header": header, "samples": self.samples}) + "\n")
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class ProgressCursor:
    """Hands out each query's progress events once: ``new()`` returns the
    events reported since the previous call, keyed by query name."""

    def __init__(self, queries: dict) -> None:
        self.queries = queries  # role -> StreamingQuery
        self._seen: set[tuple] = set()

    def new(self) -> dict[str, list[dict]]:
        out = {}
        for role, q in self.queries.items():
            fresh = []
            for raw in q.recentProgress:
                p = json.loads(raw.json)
                tag = (p["id"], p["batchId"], p["timestamp"])
                if tag not in self._seen:
                    self._seen.add(tag)
                    fresh.append(p)
            out[role] = fresh
        return out


def step_layers(events: dict[str, list[dict]], step_ms: float,
                n_input: int) -> dict[str, float]:
    """Split one step by the progress events its micro-batches reported.

    harness.*: the per-batch phases of ``durationMs`` summed over every
    query; idle is the step wall the triggers do not cover (input
    delivery, polling, handoff discovery, store refresh).
    state.*: ``stateOperators`` summed over operators and batches; sizes
    are the last reported per query.
    """
    dur = lambda p, k: p.get("durationMs", {}).get(k, 0)  # noqa: E731
    allp = [p for ps in events.values() for p in ps]
    trig = sum(dur(p, "triggerExecution") for p in allp)
    ops = [o for p in allp for o in p.get("stateOperators", [])]
    cm = lambda o, k: o.get("customMetrics", {}).get(k, 0)  # noqa: E731
    last_ops = [o for ps in events.values() if ps
                for o in ps[-1].get("stateOperators", [])]
    per_ev = max(n_input, 1)
    return {
        "harness.plan_ms": sum(dur(p, "queryPlanning") for p in allp),
        "harness.offsets_ms": sum(dur(p, "latestOffset") + dur(p, "getBatch")
                                  for p in allp),
        "harness.wal_ms": sum(dur(p, "walCommit") + dur(p, "commitOffsets")
                              for p in allp),
        "harness.exec_ms": sum(dur(p, "addBatch") for p in allp),
        "harness.idle_ms": step_ms - trig,
        "harness.batches_per_step": sum(1 for p in allp if "addBatch" in p.get(
            "durationMs", {})),
        "state.commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
        "state.update_ms": sum(o.get("allUpdatesTimeMs", 0) for o in ops),
        "state.gets_per_event": sum(cm(o, "rocksdbGetCount") for o in ops) / per_ev,
        "state.puts_per_event": sum(cm(o, "rocksdbPutCount") for o in ops) / per_ev,
        "state.rows_total": sum(o.get("numRowsTotal", 0) for o in last_ops),
        "state.memory_bytes": sum(o.get("memoryUsedBytes", 0) for o in last_ops),
        "state.dropped_by_watermark": sum(o.get("numRowsDroppedByWatermark", 0)
                                          for o in ops),
    }


def query_ms(progress: list[dict], key: str = "triggerExecution") -> float:
    return sum(p.get("durationMs", {}).get(key, 0) for p in progress)


def sink_rows(progress: list[dict]) -> int:
    """Rows the query's sink committed (memory sinks report them)."""
    return sum(p.get("sink", {}).get("numOutputRows", 0) or 0 for p in progress)


def updated_rows(progress: list[dict]) -> int:
    """Rows an update-mode stateful query emitted: its updated rows."""
    return sum(o.get("numRowsUpdated", 0) for p in progress
               for o in p.get("stateOperators", []))


def handoff_rows(head: list[dict], tail: list[dict]) -> int:
    """Rows the tail query read from the directory the head query's file
    sink writes (the stage-to-stage handoff)."""
    out = 0
    for p in tail:
        for src in p.get("sources", []):
            if any(h["sink"]["description"].split("[", 1)[-1].rstrip("]")
                   in src["description"] for h in head):
                out += src.get("numInputRows", 0)
    return out


# -- /proc: the JVM and the Spark Python workers ----------------------------

def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (the JVM forks from many)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(x) for x in f.read().split()]
        except OSError:
            pass
    return out


def _descendants(pid: int) -> list[int]:
    out, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _cpu_s(pid: int) -> float:
    """utime+stime of ``pid`` and of its reaped children, in seconds."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return sum(int(x) for x in fields[11:15]) / _CLK_TCK


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


def engine_cpu(jvm_pid: int) -> tuple[float, float]:
    """(engine CPU s, of which Spark Python workers). Engine CPU is the
    JVM's own and its reaped children's (shell-outs, exited workers)
    plus every live descendant's; the Python part is the live Python
    descendants', whose reaped children are the forked workers."""
    kids = _descendants(jvm_pid)
    py = sum(_cpu_s(p) for p in kids if _is_python(p))
    total = _cpu_s(jvm_pid) + sum(_cpu_s(p) for p in kids)
    return total, py


class ProgramCpu:
    """CPU seconds the program has used so far, read from ``/proc``.

    The program is the engine (see ``engine_cpu``) plus this process's
    own threads, which run the driver side (DataFrame creation, result
    collection, the IQ service). Two kinds of time are left out, since
    neither is work the program does for its input:

    - time the hypervisor gives to other guests (steal), which the
      kernel charges to no process, so a busy host does not inflate it;
    - the JVM's JIT compiler threads. A fresh JVM compiles for minutes,
      longer than a run, and that time lands in whichever step or read
      happens to run beside it. A compiler thread that exits keeps the
      time last read for it.
    """

    _JIT = ("C1 CompilerThre", "C2 CompilerThre")

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self._jit: dict[str, int] = {}  # compiler tid -> ticks last read

    def _jit_s(self) -> float:
        base = f"/proc/{self.jvm_pid}/task"
        for tid in os.listdir(base):
            try:
                with open(f"{base}/{tid}/comm") as f:
                    if not f.read().startswith(self._JIT):
                        continue
                with open(f"{base}/{tid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            self._jit[tid] = int(fields[11]) + int(fields[12])
        return sum(self._jit.values()) / _CLK_TCK

    def now(self) -> float:
        jit = self._jit_s()
        engine = engine_cpu(self.jvm_pid)[0]
        with open("/proc/self/stat") as f:  # last: the scans above are ours
            own = sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:13])
        return engine - jit + own / _CLK_TCK


def host_steal_pct(since: list[int] | None = None) -> tuple[list[int], float]:
    """The share of the host's CPU time the hypervisor gave to other
    guests since ``since`` (a previous return value's first element)."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    if since is None:
        return ticks, 0.0
    d = [b - a for a, b in zip(since, ticks)]
    return ticks, 100.0 * d[7] / max(sum(d), 1)


def engine_peak_rss_mb(jvm_pid: int) -> float:
    """Summed VmHWM of the JVM and its live Python workers."""
    kb = _hwm_kb(jvm_pid) + sum(_hwm_kb(p) for p in _descendants(jvm_pid))
    return kb / 1024.0

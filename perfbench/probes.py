"""Measurement probes: process-tree CPU and memory, host pressure, Spark
status-store counters, py4j call counts and the layer spans built on them.

Everything here reads; nothing changes how the engine runs, except that
:class:`Py4jCounter` wraps the gateway client's command send while it is
installed (the traced run only).
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from typing import Callable, Dict, Iterator, List, Optional

from py4j.protocol import Py4JJavaError

_TICK = os.sysconf("SC_CLK_TCK")
MB = 1e6


# ----------------------------------------------------------------- /proc


def _stat_fields(pid: int) -> List[str]:
    with open(f"/proc/{pid}/stat") as fh:
        # the command name may hold spaces; fields restart after its ')'
        return fh.read().rsplit(")", 1)[1].split()


def process_tree(root: int) -> List[int]:
    """``root`` and every live descendant of it."""
    children: Dict[int, List[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(entry))[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        children.setdefault(ppid, []).append(int(entry))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def cpu_seconds(pids: List[int]) -> float:
    """User + system CPU of ``pids``, their reaped children included."""
    total = 0
    for pid in pids:
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17 of proc(5), 12-15 here
        total += sum(int(x) for x in f[11:15])
    return total / _TICK


def hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / MB
    return 0.0


def host_reading() -> Dict[str, float]:
    """Machine-wide steal and iowait seconds so far, and the load average."""
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    return {
        "iowait_s": cpu[4] / _TICK,
        "steal_s": cpu[7] / _TICK if len(cpu) > 7 else 0.0,
        "load1": load[0],
        "load5": load[1],
        "load15": load[2],
    }


def host_pressure(start: Dict[str, float], end: Dict[str, float]) -> Dict[str, float]:
    """Context for a run's spread. It explains; it never corrects a metric."""
    return {
        "steal_s": round(end["steal_s"] - start["steal_s"], 2),
        "iowait_s": round(end["iowait_s"] - start["iowait_s"], 2),
        "loadavg_start": [start["load1"], start["load5"], start["load15"]],
        "loadavg_end": [end["load1"], end["load5"], end["load15"]],
    }


# ----------------------------------------------------------------- py4j


class Py4jCounter:
    """Counts commands sent over the py4j gateway while installed.

    The count wraps the client object's ``send_command``, which every
    JavaObject and JavaMember of the gateway calls through, so calls from
    the report's sampling threads are counted too.
    """

    def __init__(self, gateway):
        self._client = gateway._gateway_client
        self._lock = threading.Lock()
        self.calls = 0

    def _wrap(self, send):
        def send_command(*args, **kwargs):
            with self._lock:
                self.calls += 1
            return send(*args, **kwargs)

        return send_command

    def read(self) -> int:
        with self._lock:
            return self.calls

    def __enter__(self) -> "Py4jCounter":
        self._client.send_command = self._wrap(self._client.send_command)
        return self

    def __exit__(self, *exc) -> None:
        del self._client.send_command  # back to the class's method


# ----------------------------------------------------------- status store


class StageCounters:
    """Job and stage counters of one call, read from the status store.

    A call owns the job and stage ids the scheduler hands out between the
    two marks around it. That holds however many threads the call fans out
    to; a job group does not, because it is a thread-local property that a
    plain thread pool loses. The store keeps only the newest
    ``spark.ui.retainedStages`` stages: when one of a call's stages is gone,
    its counters are reported as missing, never as smaller.
    """

    def __init__(self, sc):
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._sched = self._jsc.dagScheduler()
        self._store = self._jsc.statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def mark(self):
        return self._sched.nextJobId(), self._sched.nextStageId()

    def between(self, start, end) -> Optional[Dict[str, float]]:
        """Counters of the jobs and stages started between two marks, or
        ``None`` when the store has evicted any of the stages."""
        # the store is fed from the listener bus, which lags the scheduler
        self._jsc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(
            ("stages", "tasks", "exec_cpu_s", "gc_s", "input_mb",
             "shuffle_write_mb", "spill_mb", "output_mb"), 0.0
        )
        out["jobs"] = float(end[0] - start[0])
        empty = self._sc._jvm.java.util.ArrayList()
        for sid in range(start[1], end[1]):
            try:
                attempts = self._store.stageData(sid, False, empty, False, self._no_quantiles)
            except Py4JJavaError as e:
                if e.java_exception.getClass().getName() == "java.util.NoSuchElementException":
                    return None
                raise
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["exec_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["input_mb"] += st.inputBytes() / MB
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                out["spill_mb"] += st.diskBytesSpilled() / MB
                out["output_mb"] += st.outputBytes() / MB
        return out

    def cache_mb(self) -> float:
        """Bytes held by persisted RDDs, memory and disk."""
        infos = self._jsc.getRDDStorageInfo()
        return sum((r.memSize() + r.diskSize()) for r in infos) / MB


# ----------------------------------------------------------------- spans


class Tracer:
    """Layer spans around the public calls one op makes.

    A span records the call's wall time, Python and JVM CPU, py4j calls and
    its status-store counters. The counters are read after the span's clock
    has stopped, so reading them costs the run but not the span.
    ``input_bytes`` gives the size of the files the current op reads, the
    base of ``scan_amp``.
    """

    def __init__(self, sc, jvm_pid: int, py4j: Py4jCounter, input_bytes: Callable[[], int]):
        self.counters = StageCounters(sc)
        self.jvm_pid = jvm_pid
        self.py4j = py4j
        self.input_bytes = input_bytes
        self.op = 0
        self.spans: List[Dict] = []

    @contextmanager
    def span(self, name: str) -> Iterator[Dict]:
        rec: Dict = {"name": name, "op": self.op, "parent": "op"}
        mark = self.counters.mark()
        calls = self.py4j.read()
        py0, jvm0 = time.process_time(), cpu_seconds([self.jvm_pid])
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["start"], rec["end"] = t0, time.perf_counter()
            rec["wall_s"] = rec["end"] - t0
            rec["py_cpu_s"] = time.process_time() - py0
            rec["jvm_cpu_s"] = cpu_seconds([self.jvm_pid]) - jvm0
            rec["py4j_calls"] = float(self.py4j.read() - calls)
            stages = self.counters.between(mark, self.counters.mark())
            if stages is None:
                rec["missing"] = True
            else:
                rec.update(stages)
                rec["nontask_cpu_s"] = rec["jvm_cpu_s"] - rec["exec_cpu_s"]
                rec["scan_amp"] = rec["input_mb"] * MB / self.input_bytes()
            rec["cache_mb"] = self.counters.cache_mb()
            self.spans.append(rec)


@contextmanager
def no_span(name: str) -> Iterator[Dict]:
    yield {}

"""Measurement plumbing shared by the workloads.

- :class:`Tracer` keeps spans (name, start, end, parent, run id) in
  memory around calls into the program and derives self time from them.
- :func:`closed_loop` runs one client: each pass starts when the
  previous one has finished, and every pass runs under its own Spark
  job group so Spark's records can be split per pass.
- :func:`host_cpu_s` reads the host's busy and steal CPU time, taken
  around each pass.
- :func:`engine_by_group` reads the event log a traced session writes.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """In-memory spans; nothing is written until :meth:`to_json`."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.run_id))
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        covered = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                covered[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name] += (s.end - s.start) - covered[i]
        return dict(out)

    def to_json(self) -> dict:
        return {"spans": [asdict(s) for s in self.spans],
                "self_time_s": self.self_times()}


@dataclass
class PassResult:
    """What one pass of a workload reports back to the loop."""

    ok: bool
    groups: list[str]
    detail: dict = field(default_factory=dict)
    seconds: float = 0.0
    cpu_s: float = 0.0
    steal_s: float = 0.0


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def host_cpu_s() -> tuple[float, float]:
    """(busy, steal) CPU seconds of this host since boot, from ``/proc/stat``.

    Busy is user, system and interrupt time; steal is time the
    hypervisor gave to other guests while this one wanted to run.
    """
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(
            int, fh.readline().split()[1:9])
    return (user + nice + system + irq + softirq) / _CLK_TCK, steal / _CLK_TCK


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def closed_loop(spark, tracer: Tracer, one_pass, seconds: float,
                min_warm: int) -> tuple[PassResult, list[PassResult]]:
    """One cold pass, then warm passes back to back.

    A warm pass starts only while the window (measured from the start of
    the cold pass) still has room for one more median pass, and at least
    ``min_warm`` warm passes always run.  ``one_pass(i, group)`` returns
    a :class:`PassResult`; a pass that raises counts as failed, and the
    loop stops after three failures.  Returns (cold pass, warm passes).
    """
    sc = spark.sparkContext
    t_start = time.perf_counter()
    results: list[PassResult] = []
    failed = 0
    i = 0
    while True:
        if len(results) > min_warm:
            elapsed = time.perf_counter() - t_start
            if elapsed + median(r.seconds for r in results[1:]) > seconds:
                break
        group = f"pass{i}"
        sc.setJobGroup(group, group)
        cpu0, steal0 = host_cpu_s()
        with tracer.span("pass") as sp:
            try:
                r = one_pass(i, group)
            except Exception as exc:  # noqa: BLE001 — a failed pass is counted, the loop goes on
                print(f"# pass {i} failed: {exc!r}", flush=True)
                r = PassResult(ok=False, groups=[group])
        r.seconds = sp.end - sp.start
        cpu1, steal1 = host_cpu_s()
        r.cpu_s, r.steal_s = cpu1 - cpu0, steal1 - steal0
        failed += 0 if r.ok else 1
        results.append(r)
        i += 1
        if failed >= 3:
            break
    sc.setLocalProperty("spark.jobGroup.id", None)
    return results[0], results[1:]


def wait_for_listeners(spark) -> None:
    """Block until Spark's listener bus has delivered every event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


#: Python-runner SQL metrics as the event log names them (PythonSQLMetrics);
#: the timing ones are task-summed milliseconds
_PY_METRICS = {
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_boot_ms",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}


def engine_by_group(eventlog_dir: str) -> dict[str, dict[str, float]]:
    """Task metrics summed per job group from an uncompressed event log."""
    stage_group: dict[int, str] = {}
    agg: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    paths = sorted(
        os.path.join(dp, f) for dp, _, fs in os.walk(eventlog_dir) for f in fs
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    agg[g]["jobs"] += 1
                    for sid in e.get("Stage IDs", []):
                        stage_group[sid] = g
                elif ev == "SparkListenerTaskEnd":
                    g = stage_group.get(e.get("Stage ID"), "")
                    a = agg[g]
                    a["tasks"] += 1
                    m = e.get("Task Metrics") or {}
                    a["executor_cpu_ns"] += m.get("Executor CPU Time", 0)
                    a["executor_run_ms"] += m.get("Executor Run Time", 0)
                    a["gc_ms"] += m.get("JVM GC Time", 0)
                    a["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    a["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                        key = _PY_METRICS.get(acc.get("Name"))
                        if key is not None:
                            a[key] += float(acc.get("Update") or 0)
    return {g: dict(v) for g, v in agg.items()}


def engine_metrics(per_group: dict, groups) -> dict[str, float]:
    """The engine.* metrics for one pass (the sum over its groups)."""
    tot: dict[str, float] = defaultdict(float)
    for g in groups:
        for k, v in per_group.get(g, {}).items():
            tot[k] += v
    return {
        "engine.executor_cpu_s": tot["executor_cpu_ns"] / 1e9,
        "engine.executor_run_s": tot["executor_run_ms"] / 1e3,
        "engine.gc_s": tot["gc_ms"] / 1e3,
        "engine.python_boot_s": tot["python_boot_ms"] / 1e3,
        "engine.python_run_s": tot["python_run_ms"] / 1e3,
        "engine.shuffle_write_bytes": tot["shuffle_write_bytes"],
        "engine.spill_bytes": tot["spill_bytes"],
        "engine.python_bytes_sent": tot["python_bytes_sent"],
        "engine.python_bytes_returned": tot["python_bytes_returned"],
        "engine.jobs": tot["jobs"],
        "engine.tasks": tot["tasks"],
    }


def dir_bytes(path: str) -> int:
    """Bytes of every regular file under ``path`` (0 if absent)."""
    total = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            p = os.path.join(dp, f)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
    return total
